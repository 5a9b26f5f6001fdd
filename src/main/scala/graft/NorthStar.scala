package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Hashing, TextFunctions => TF, VectorFunctions => VF}

/**
 * North-star LLM-data-pipeline operators (SURVEY.md §7.1 M5 /
 * BASELINE.json north_star): deduplication (exact, MinHash+LSH, SimHash,
 * n-gram Jaccard, embedding-cosine), similarity search (brute-force +
 * LSH-bucketed ANN), text analysis (lang-ID, quality, token count,
 * fingerprint), multimodal binary columns.
 *
 * Scale notes per operator are on the implementing functions
 * ([[graft.functions.TextFunctions]], [[graft.functions.VectorFunctions]]).
 * The LSH variants exist precisely because the exact ones (pairwise join,
 * full-scan top-k) do not survive 100 TB; at sf0.01/0.1 both run, and the
 * exact ones double as ground truth.
 */
object NorthStar {

  // The harness documents table is ONE parquet file (one row group), so
  // the scan yields a single input split and every text transform would
  // run on one core; repartition by doc_id to engage the full executor
  // set. The partition count is PINNED (defaultParallelism): a bare
  // repartition(col) exchange is AQE-coalescible by BYTES, and text
  // rows are tiny-bytes / heavy-CPU — compressed shuffle output under
  // minPartitionSize re-serialized every downstream transform onto ONE
  // task (measured: d09's probe generation 2.5 s on 1 task with 31
  // cores idle; same shape in d11/d15/t23). An explicit count is
  // exempt from coalescing, which is exactly right when CPU-per-row,
  // not bytes, is the scaling unit. This is harness-input plumbing,
  // not operator design: production corpora arrive as many
  // files/splits and need no forced text shuffle.
  // Base reads go through Queries' shared per-(session, dir, table)
  // file-index memo — ~90 of the 198 queries bind documents/embeddings,
  // and without the memo each re-lists the file and re-resolves the
  // schema (the q-tier's round-9 lesson; released by [[releaseCaches]]).
  // The repartition is a fresh plan node per call on the shared read.
  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.Queries.t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
  private def emb(s: SparkSession, dir: String): DataFrame =
    graft.Queries.t(s, dir, "embeddings")
  // The embeddings table is the same single-file/single-split plumbing
  // as documents, but emb() deliberately stays UNSPREAD: cheap one-pass
  // consumers (s01/s13-style single-query top-k) carry a plan contract
  // that a corpus query must NOT shuffle the corpus (PlansSpec), and a
  // blanket repartition would break exactly that posture. Consumers
  // whose per-vector kernels are the cost — 512-bit signature builds,
  // PQ/ADC scans, eval sweeps (measured 600-700 ms on the scan's ONE
  // task) — opt into the pinned spread explicitly; the count pin is
  // the docs() lesson (byte-based AQE coalescing vs CPU-bound rows).
  private def embWide(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).repartition(s.sparkContext.defaultParallelism, col("vec_id"))

  /** The exact all-pairs block self-join of e01, s04 and s06. `t` holds
    * (vec_id, blk in [0, B)) plus the `payload` columns; every unordered
    * vector pair falls in exactly one unordered block pair {blk(a),
    * blk(b)}, so replicating each side once per block pair turns the
    * O(n²) scan into an equi-join on (bi, bj) with B(B+1)/2 keys — an
    * ordinary shuffled join (replication factor (B+1)/2, per-task work
    * (n/B)²), no cartesian. Returns each unordered pair once as
    * (id_l, <payload>_l, bi, bj, id_r, <payload>_r, ri, rj). */
  private def blockPairJoin(s: SparkSession, t: DataFrame, B: Int,
                            payload: Seq[String]): DataFrame = {
    val blockPairs = {
      import s.implicits._
      (for (i <- 0 until B; j <- i until B) yield (i, j)).toDF("bi", "bj")
    }
    // the scoring exchange keys on (bi, bj) — B(B+1)/2 keys of tiny
    // BYTES but quadratic-per-block downstream scoring; pin the
    // partition count so AQE's byte-based coalescing can't serialize
    // the scoring onto 1-2 tasks (measured: e01 877 ms on 2 tasks, s06
    // 1.0 s on ONE task, with 30+ cores idle before the pin)
    val par = s.sparkContext.defaultParallelism
    def side(blk: String, sfx: String, i: String, j: String): DataFrame =
      t.join(broadcast(blockPairs), col("blk") === col(blk))
        .select((col("vec_id").as(s"id_$sfx") +: payload.map(c => col(c).as(s"${c}_$sfx")))
          :+ col("bi").as(i) :+ col("bj").as(j): _*)
        .repartition(par, col(i), col(j))
    side("bi", "l", "bi", "bj")
      .join(side("bj", "r", "ri", "rj"), col("bi") === col("ri") && col("bj") === col("rj"))
      // diagonal blocks would otherwise emit both orientations
      .filter(col("bi") =!= col("bj") || col("id_l") < col("id_r"))
  }

  /** Per-vector prototypicality scoring shared by e09 (prune the MOST
    * prototypical) and e14 (sample the LEAST): argmax-dot centroid
    * assignment + cosine to the winning centroid, every centroid value
    * and norm a plan-time literal with the pinned left-to-right fold —
    * ONE definition so the two selection tails cannot drift. Columns:
    * (vec_id, centroid_id, proto_cos). */
  private def protoCosScored(s: SparkSession, dir: String): DataFrame = {
    val dim = 64; val nC = 16
    val cnorms = (0 until nC).map(c =>
      math.sqrt(VF.centroid(c, dim).map(x => x * x).sum)).toArray
    val v = VF.toDouble(col("embedding"))
    emb(s, dir)
      .select(col("vec_id"), v.as("v"))
      .withColumn("dots",
        array((0 until nC).map(c => VF.dot(col("v"), lit(VF.centroid(c, dim)))): _*))
      .select(col("vec_id"),
        array_position(col("dots"), array_max(col("dots"))).cast("int")
          .as("centroid_id"),
        array_max(col("dots")).as("best_dot"),
        sqrt(VF.normSq(col("v"))).as("nrm"))
      .select(col("vec_id"), col("centroid_id"),
        (col("best_dot")
          / (col("nrm") * element_at(lit(cnorms), col("centroid_id"))))
          .as("proto_cos"))
  }

  /** The t29/d18 cleaning pass — NFC canonical composition, control-char
    * strip, single-space collapse, trim. ONE definition (plus its SQL
    * twin [[cleanTextSql]]) so the normalize query and the dedup leak
    * audit always run the same normalizer. */
  private def cleanText(t: Column): Column =
    trim(regexp_replace(regexp_replace(
      Hashing.nfcNormalize(t), "[\\x00-\\x1f\\x7f]", ""), " +", " "))

  /** SQL twin of [[cleanText]] (DuckDB's nfc_normalize implements the
    * same UAX #15 composition as the JDK Normalizer). */
  private def cleanTextSql(t: String): String =
    s"""trim(regexp_replace(regexp_replace(nfc_normalize($t),
        '[\\x00-\\x1f\\x7f]', '', 'g'), ' +', ' ', 'g'))"""

  /** DuckDB token expression mirroring TextFunctions.tokens over an
    * arbitrary text expression. */
  private def sqlToksOf(t: String): String =
    s"CASE WHEN length(trim($t)) = 0 THEN CAST([] AS VARCHAR[]) " +
    s"ELSE string_split_regex(lower(trim($t)), '\\s+') END"

  /** [[sqlToksOf]] over the `text` column (the common case). */
  private val sqlToks = sqlToksOf("text")

  /** DuckDB twin of [[TF.qualityKeep]] over `text` — the one oracle form
    * of the t06 rule, embedded by the t06, d13 and d26 oracles. */
  private val t06Sql =
    s"""CAST(len($sqlToks) AS INT) >= 5
            AND CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
                / greatest(length(text), 1) <= 0.2
            AND CAST(len(list_filter($sqlToks,
                 x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE)
                / greatest(len($sqlToks), 1) >= 0.01
            AND CAST(len(list_distinct($sqlToks)) AS DOUBLE)
                / greatest(len($sqlToks), 1) >= 0.3"""

  /** Pseudonymization key for t36 — embedded verbatim in the oracle, so
    * it must stay ASCII (fnvSql folds per-char ord as the byte). */
  private val piiKey = "graft-pii-k13"

  /** Deterministic PII injection for the audit tier (the corpus carries
    * none): one email always; a second email on mod-2, a phone on mod-3,
    * an IPv4 on mod-5, an SSN-shaped ID on mod-7 — so the per-doc counts
    * VARY. Cards use fixed well-known TEST PANs (a doc_id-derived PAN
    * would need a check-digit computation in both injection twins for
    * zero added coverage): a Luhn-VALID dashed Visa on mod-13=0, the
    * check-digit-BROKEN variant on mod-13=1 (must count 0 and survive
    * scrub raw — the precision side of the Luhn gate, hash-checked
    * cross-engine), a valid contiguous Amex on mod-17=0. Mirrored
    * literally by [[piiInjectSql]]. */
  private def piiInject(text: Column, id: Column): Column =
    concat(text,
      lit(" reach user"), id, lit("@example.com"),
      when(id % 2 === 0,
        concat(lit(" or ops-"), id, lit("@example.org"))).otherwise(lit("")),
      when(id % 3 === 0,
        concat(lit(" call +1-555-"),
          lpad(pmod(id, lit(10000L)).cast("string"), 4, "0"))).otherwise(lit("")),
      when(id % 13 === 0, lit(" pay 4111-1111-1111-1111"))
        .when(id % 13 === 1, lit(" pay 4111-1111-1111-1112"))
        .otherwise(lit("")),
      when(id % 17 === 0, lit(" amex 378282246310005")).otherwise(lit("")),
      // the round-16 exactness plants, hash-checked cross-engine:
      // mod-19 = the steal-rescue adjacency (a plus-spaced phone tail
      // before a spaced PAN — the cross-boundary candidate
      // '2314 4111 1111 1111' fails Luhn and must NOT block the true
      // PAN: phone +1 AND card +1); mod-23 = leftmost-valid-wins (the
      // number-column candidate '1111 4111 1111 1111' IS Luhn-valid
      // and wins the overlap: card +1 with the stolen grouping)
      when(id % 19 === 0, lit(" fwd +9 704 2314 4111 1111 1111 1111"))
        .otherwise(lit("")),
      when(id % 23 === 0, lit(" col 1111 4111 1111 1111 1111"))
        .otherwise(lit("")),
      // round-17 IBAN plants (fixed well-known TEST IBANs, the CARD
      // convention): mod-29=0 a mod-97-VALID GB IBAN, mod-29=1 its
      // check-BROKEN variant (must count 0 and survive scrub raw),
      // mod-31=0 a valid FR IBAN with a LETTER inside the BBAN (the
      // alphanumeric-body arm of the checksum)
      when(id % 29 === 0, lit(" iban GB82WEST12345698765432"))
        .when(id % 29 === 1, lit(" iban GB82WEST12345698765431"))
        .otherwise(lit("")),
      when(id % 31 === 0, lit(" acct FR1420041010050500013M02606"))
        .otherwise(lit("")),
      // round-17 paper-format plants: a valid spaced IBAN on mod-37=0
      // (its digit groups are Luhn-broken, so CARD stays quiet), the
      // check-broken spaced variant on mod-37=1 (counts 0, survives raw)
      when(id % 37 === 0, lit(" pay GB82 WEST 1234 5698 7654 32"))
        .when(id % 37 === 1, lit(" pay GB82 WEST 1234 5698 7654 31"))
        .otherwise(lit("")),
      when(id % 5 === 0,
        concat(lit(" from 10."), pmod(id, lit(256L)).cast("string"),
          // cast-truncate == // for the non-negative ids (< 2^52 exact)
          lit("."), pmod((id / lit(7)).cast("long"), lit(256L)).cast("string"),
          lit("."), pmod(id, lit(250L)).cast("string"))).otherwise(lit("")),
      when(id % 7 === 0,
        concat(lit(" ssn "), lpad(pmod(id, lit(1000L)).cast("string"), 3, "0"),
          lit("-"), lpad(pmod(id, lit(100L)).cast("string"), 2, "0"),
          lit("-"), lpad(pmod(id, lit(10000L)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(id % 11 === 0,
        concat(lit(" via 2001:db8::"),
          lower(hex(pmod(id, lit(65536L)))))).otherwise(lit("")))

  /** Deterministic encoding-damage injection for t44 (the corpus is
    * clean ASCII): a double-encoded "café" on mod-4=1, a U+FFFD on
    * mod-6=1, the two C1 controls on mod-9 residues 1/4, a
    * double-encoded right-quote on mod-11=3 — single-sourced from the
    * TextFunctions marker constants; [[mojiInjectSql]] rebuilds the
    * SAME codepoints via chr(). */
  private def mojiInject(text: Column, id: Column): Column =
    concat(text,
      when(id % 4 === 1, lit(" caf" + TF.doubleEncodeMarks(0)))
        .otherwise(lit("")),
      when(id % 6 === 1, lit(" bad " + TF.replacementMark))
        .otherwise(lit("")),
      when(id % 9 === 1, lit(" ctl " + TF.c1Marks(0)))
        .when(id % 9 === 4, lit(" ctl " + TF.c1Marks(1)))
        .otherwise(lit("")),
      when(id % 11 === 3, lit(" quo " + TF.doubleEncodeMarks(1)))
        .otherwise(lit("")))

  /** A Scala marker string as a DuckDB codepoint expression (chr folds
    * — keeps raw control chars out of the oracle SQL text). */
  private def chrSql(s: String): String =
    s.map(c => s"chr(${c.toInt})").mkString(" || ")

  /** DuckDB twin of [[mojiInject]]. */
  private def mojiInjectSql: String =
    s"""text
       || CASE WHEN doc_id % 4 = 1 THEN ' caf' || ${chrSql(TF.doubleEncodeMarks(0))} ELSE '' END
       || CASE WHEN doc_id % 6 = 1 THEN ' bad ' || ${chrSql(TF.replacementMark)} ELSE '' END
       || CASE WHEN doc_id % 9 = 1 THEN ' ctl ' || ${chrSql(TF.c1Marks(0))}
               WHEN doc_id % 9 = 4 THEN ' ctl ' || ${chrSql(TF.c1Marks(1))}
               ELSE '' END
       || CASE WHEN doc_id % 11 = 3 THEN ' quo ' || ${chrSql(TF.doubleEncodeMarks(1))} ELSE '' END"""

  /** DuckDB twin of TF.literalCount: occurrences of marker `m` in expr
    * `t` by length difference over the marker's codepoint length. */
  private def mojiCountSql(t: String, m: String): String =
    s"""CAST((length($t) - length(replace($t, ${chrSql(m)}, '')))
            // ${m.length} AS BIGINT)"""

  /** The t41/t42 deletion ledger: the shared audit address (links every
    * mod-10 doc — t37/t40's single target), one doc-specific address
    * (doc 33 only — NOT a mod-10 doc, so this request alone selects a
    * row no other request touches), one phone (doc 0 only). Small by
    * design — the
    * ledger is the BROADCAST side; the oracle re-derives each tag from
    * these literals. */
  private val rtbfRequests: Seq[(String, String)] = Seq(
    "EMAIL" -> "audit@example.net",
    "EMAIL" -> "user33@example.com",
    "PHONE" -> "+1-555-0000")

  private def rtbfLedger(s: SparkSession): DataFrame = {
    import s.implicits._
    rtbfRequests.toDF("label", "value")
  }

  /** (tag-constant defs, folded replace over them, linked predicate)
    * fragments of the t41/t42 oracles, derived from [[rtbfRequests]] so
    * the ledger literals are single-sourced. `tagOf` is
    * [[fnvTagSql]]/[[macTagSql]]. */
  private def rtbfBatchSql(tagOf: String => String => String): String = {
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
  private def rtbfCascadeSql(tagOf: String => String => String): String = {
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

  /** The t36/t37/t38 linkage injection: one per-doc email always, the
    * SHARED audit address on mod-10 docs (the cross-doc linkage witness
    * and t37's deletion target), a phone on mod-3. Mirrored literally by
    * [[linkInjectSql]]. */
  private def linkInjected(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com"),
        when(col("doc_id") % 10 === 0, lit(" cc audit@example.net"))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          concat(lit(" or +1-555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("tp"))

  /** DuckDB twin of [[linkInjected]]. */
  private val linkInjectSql: String =
    """text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      || CASE WHEN doc_id % 10 = 0 THEN ' cc audit@example.net' ELSE '' END
      || CASE WHEN doc_id % 3 = 0
              THEN ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END"""

  /** DuckDB twin of [[piiInject]] (expects `documents`' doc_id/text in
    * scope). */
  private val piiInjectSql: String =
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
  private def duckRepl(c: TF.PiiClass): String =
    if (c.group == 0) c.tag else s"\\1${c.tag}\\3"

  /** DuckDB twin of TF.luhnValid over expr `m` (its own binding, usually
    * a lambda variable): separators stripped, every second digit from
    * the right doubled (−9 when > 9), sum ≡ 0 mod 10 — exact integer
    * arithmetic, digit-for-digit the Spark fold. */
  private def luhnCondSql(m: String): String = {
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
  private def cardValuesSql(t: String): String = {
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
  private def mod97CondSql(m: String): String = {
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
  private def ibanValuesSql(t: String): String = {
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
  private def validMatchesSql(t: String, c: TF.PiiClass): String =
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
  private def scrubClassSql(acc: String, c: TF.PiiClass): String =
    if (c.luhn || c.mod97) pseudoSql(acc, c, _ => s"'${c.tag}'")
    else {
      val once = s"regexp_replace($acc, '${c.pattern}', '${duckRepl(c)}', 'g')"
      if (c.group == 0) once
      else s"regexp_replace($once, '${c.pattern}', '${duckRepl(c)}', 'g')"
    }

  /** DuckDB twin of TF.scrubPii over expr `t`: the full redact chain in
    * piiClasses order (patterns are RE2-safe and quote-free, embedded
    * verbatim). */
  private def scrubSql(t: String): String =
    TF.piiClasses.foldLeft(t)(scrubClassSql)

  /** DuckDB twin of TF.piiCount over expr `t`: guarded classes add the
    * second-pass extraction over the once-replaced text; the
    * checksum-gated class counts only verified candidates. */
  private def countSql(t: String, c: TF.PiiClass): String =
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
  private def fnvTagSql(label: String)(m: String): String =
    s"'<$label:' || lpad(CAST(${fnvSql(s"'$piiKey|' || $m")} AS VARCHAR), 20, '0') || '>'"

  /** The MAC tag of match expr `m`: first 32 hex chars of the nested
    * digest sha256(key|sha256(key|m)) — TF.pseudonymizePiiMac's twin
    * (both engines compose over lowercase hex strings). */
  private def macTagSql(label: String)(m: String): String =
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
  private def pseudoSql(t: String, c: TF.PiiClass,
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
  private val sqlShingles =
    s"""CASE WHEN len($sqlToks) < 3 THEN [array_to_string($sqlToks, ' ')]
        ELSE list_distinct(list_transform(range(1, len($sqlToks) - 1),
             i -> $sqlToks[i] || ' ' || $sqlToks[i+1] || ' ' || $sqlToks[i+2])) END"""

  // near-dup pair detection lives in graft.operators.Dedup (PPJoin exact
  // path + MinHash-LSH scale path); the queries below bind it to the
  // harness documents table.
  //
  // The long-lived intermediates are memoized per (session, dir) in
  // SessionCache — the same object is reused rather than hoping
  // cache-manager canonical-plan matching re-finds it, and nothing is
  // ever re-persisted (no "already cached" churn):
  //  - the shingle-hash table (one sorted long array per doc) feeds both
  //    d03 and d04 — the materialized corpus representation a production
  //    pipeline would keep;
  //  - the exact pair set feeds THREE queries (d03 emits it, d06
  //    clusters it, d07 picks representatives).
  // Dedup's pair detectors return plain plans that hold no cache, so
  // each memo that is read more than once persists its frame in its own
  // build, and [[releaseCaches]] unpersists it: one owner per table.
  private def hsTable(s: SparkSession, dir: String): DataFrame =
    SessionCache.memo(s, dir, "hs") {
      graft.operators.Dedup.shingleHashTable(docs(s, dir), "doc_id", "text", 3)
        .persist()
    }
  // s06's (vec_id, signature, block) sketch table — computed ONCE and
  // persisted: both sides of the coarse self-join read it (without the
  // memo each branch re-derives every signature), and it is exactly the
  // sketch index a production corpus would materialize next to the
  // embeddings. When `spark.graft.annIndexDir` is set, that
  // materialization is literal: the PRE-WRITTEN AnnIndex parquet
  // artifact at `$dir/sig_b<nBits>` is loaded (and built on first
  // touch), so s06/s07/s10 probe the on-disk index with no in-session
  // signature computation — the cross-session production shape.
  private[graft] def sigTable(s: SparkSession, dir: String,
                              nBits: Int, blocks: Int): DataFrame = {
    // the conf is part of the cache identity: setting/unsetting
    // annIndexDir mid-session must re-resolve, not serve the stale path
    val idxRoot = s.conf.getOption("spark.graft.annIndexDir")
    SessionCache.memo(s, dir, (idxRoot, nBits, blocks)) {
      val base = idxRoot match {
        case Some(root) =>
          // per-corpus path component: two corpora in one session must
          // not share one artifact (vec_ids overlap across corpora)
          val corpusTag = java.security.MessageDigest.getInstance("MD5")
            .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
            .take(12)
          val path = s"$root/sig_b${nBits}_$corpusTag"
          if (!graft.operators.AnnIndex.exists(s, path))
            graft.operators.AnnIndex.build(emb(s, dir), "vec_id", "embedding",
              dim = 64, path = path, nBits = nBits)
          graft.operators.AnnIndex.load(s, path).select(col("vec_id"), col("sig"))
        case None =>
          // embWide: the 512-bit signature kernel is the cost, and the
          // result persists — the spread amortizes over every consumer
          embWide(s, dir).select(col("vec_id"),
            // bitSignature applies toDouble itself — pass the raw column
            VF.bitSignature(col("embedding"), 64, nBits).as("sig"))
      }
      base.withColumn("blk", pmod(col("vec_id"), lit(blocks)).cast("int"))
        .persist()
    }
  }
  // r17 optimization: the 0.8 pair set is DERIVED from the persisted
  // 0.6 table (histPairs) instead of running a second full PPJoin.
  // Exactness: jaccardPairsExact is recall-lossless at its threshold, so
  // the 0.6 output contains every pair with exact J >= 0.6 ⊇ every pair
  // with J >= 0.8, each carrying the same exact jaccard value
  // (inter/(na+nb−inter), identical arithmetic in both pipelines) —
  // filter(jaccard >= 0.8) therefore yields the 0.8 run's rows exactly
  // (hash-verified vs the unchanged d03 oracle at three SFs). Cost: one
  // prefix-filter candidate pipeline over the corpus instead of two
  // (guide §1.2/§2.4 — both thresholds are needed in-session: d03/d06/
  // d07/d13/d26 consume 0.8, d20 consumes 0.6); the looser build is the
  // superset machinery a production session would run once. The view is
  // not persisted, so a release drops it and leaves the 0.6 blocks to
  // the histPairs entry.
  private def neardupPairs(s: SparkSession, dir: String): DataFrame =
    SessionCache.memo(s, dir, "pairs")(histPairs(s, dir).filter(col("jaccard") >= 0.8))
  private[graft] def lshPairs(s: SparkSession, dir: String): DataFrame =
    SessionCache.memo(s, dir, "lsh")(
      graft.operators.Dedup.minhashLshPairs(hsTable(s, dir), 0.8,
        k = 128, bands = 32, estFloor = 0.6).persist())
  // d20's threshold-0.6 pair table (strictly larger than the 0.8 set —
  // must ride the same lifecycle, not stack a fresh persist per call)
  private[graft] def histPairs(s: SparkSession, dir: String): DataFrame =
    SessionCache.memo(s, dir, "hist")(
      graft.operators.Dedup.jaccardPairsExact(hsTable(s, dir), 0.6).persist())

  /** Release the session's memoized intermediates for (session, dir) —
    * the lifecycle handle for long-lived sessions (harness runs simply
    * exit).
    *
    * WARNING — the tracked-checkpoint release is SESSION-scoped, not
    * dir-scoped: tracked checkpoint blocks carry no corpus identity (they
    * are minted deep inside operators that never see a path), so
    * releasing corpus A also frees the checkpoints backing any
    * still-held result built from corpus B in the SAME session, and
    * re-executing such a result afterwards throws (its lineage is
    * truncated). Materialize (collect / write) results from every corpus
    * you care about before releasing ANY corpus, or use one session per
    * corpus. The memos are genuinely dir-scoped; only the checkpoints
    * are wider. */
  def releaseCaches(s: SparkSession, dir: String): Unit = SessionCache.release(s, dir)

  private def jaccardOracle(threshold: Double): String =
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
  private val U64 = "CAST(18446744073709551616 AS HUGEINT)" // 2^64
  private val I63 = "CAST(9223372036854775808 AS HUGEINT)"  // 2^63

  private[graft] def signedSql(e: String): String =
    s"CAST(CASE WHEN ($e) >= $I63 THEN ($e) - $U64 ELSE ($e) END AS BIGINT)"

  /** Frame geometry shared by the video-tier queries (m06 scene cuts,
    * m07 keyframes, m10 video fingerprints) AND their oracles: one
    * constant pair, so a retune cannot drift the composed stages. */
  private val FrameChars = 48
  private val SceneCutHamming = 18

  /** Per-frame aHash replay (fr → … → ph → lg WITH-clauses over
    * `documents`; lg carries each frame's `phash` and the previous
    * frame's as `prev`) — shared by the m06 and m10 oracles so the two
    * replays of the frame-hash pipeline cannot drift. */
  private def frameHashSql: String =
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
  private def wavSamplesSql: String =
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
  private def sqlShinglesN(tks: String, n: Int): String = {
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
  private def mulmodSql(a: String, b: BigInt): String = {
    val bh = b >> 32
    val bl = b & BigInt(0xFFFFFFFFL)
    s"""((($a) * CAST($bl AS HUGEINT)) % $U64 +
        ((($a) * CAST($bh AS HUGEINT)) % CAST(4294967296 AS HUGEINT))
          * CAST(4294967296 AS HUGEINT)) % $U64"""
  }

  // the MinHashMix constants as unsigned residues
  private val GoldenU = BigInt(java.lang.Long.toUnsignedString(graft.functions.MinHashMix.Golden))
  private val M1U = BigInt(java.lang.Long.toUnsignedString(graft.functions.MinHashMix.M1))
  private val M2U = BigInt(java.lang.Long.toUnsignedString(graft.functions.MinHashMix.M2))

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
  private def rollingSql(hs: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS HUGEINT), $hs),
        (h, x) -> (h * CAST(1099511628211 AS HUGEINT) + x) % $U64)"""

  /** SimHash64 over a HUGEINT hash-list column `hs`: per bit b, the bit is
    * set iff more than half the hashes have bit b set (counts(b) > 0). */
  private def simhashSql(hs: String): String =
    (0 until 64).map { b =>
      val pow = java.math.BigInteger.ONE.shiftLeft(b).toString
      s"""(CASE WHEN 2*len(list_filter($hs, h -> (h // CAST($pow AS HUGEINT)) % 2 = 1))
          > len($hs) THEN CAST($pow AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)"""
    }.mkString("(", " + ", ")")

  /** Integer value of the first 8 md5 hex chars of `e` — the oracle twin
    * of Spark's `conv(substring(md5(e), 1, 8), 16, 10)` (DuckDB has no
    * base-conversion function; fold hex digits left-to-right). */
  private def md5HexIntSql(e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(string_split(substring(md5($e), 1, 8), ''),
          c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
        (a, x) -> a * 16 + x)"""

  /** The ±1 hyperplane p as a DuckDB list literal — generated from the
    * same Fnv bits as VectorFunctions.planeLiteral. */
  private def planeSqlLiteral(p: Int, dim: Int): String =
    graft.functions.VectorFunctions.planeArray(p, dim)
      .map(d => if (d > 0) "1.0" else "-1.0").mkString("[", ",", "]")

  /** Left-to-right dot fold from 0.0 (matches DotProduct / aggregate). */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), x -> x[1]*x[2])), (p,q) -> p+q)"

  /** Left-to-right squared-L2 fold from 0.0 (matches the Spark
    * zip_with + aggregate pair in e05). */
  private def l2Sql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b),
        x -> (x[1] - x[2]) * (x[1] - x[2]))), (p, q) -> p + q)"""

  /** VectorFunctions.lshBucket(v, dim, planes) as SQL. */
  private def bucketSql(v: String, dim: Int, planes: Int): String =
    (0 until planes).map { p =>
      s"(CASE WHEN ${dotSql(v, planeSqlLiteral(p, dim))} >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** IVF centroid c as a DuckDB list literal (same FNV-derived values as
    * VectorFunctions.centroid). Scientific notation on purpose: DuckDB
    * types a plain decimal literal as DECIMAL (an ulp off the source
    * double after conversion); an exponent literal is DOUBLE, and 17
    * significant digits round-trip any double exactly. */
  private def centroidSqlLiteral(c: Int, dim: Int): String =
    graft.functions.VectorFunctions.centroid(c, dim)
      .map(d => f"$d%.17e").mkString("[", ",", "]")

  /** [dot(v,c_0), ..., dot(v,c_{n-1})] as SQL. */
  private def centroidDotsSql(v: String, dim: Int, nCentroids: Int): String =
    (0 until nCentroids).map(c => dotSql(v, centroidSqlLiteral(c, dim)))
      .mkString("[", ",", "]")

  /** Shared BM25 scoring WITH-clauses (d, st, sc over `documents`) for
    * the t13 and s09 oracles — one generator so the two replays cannot
    * drift. */
  private def bm25WithClauses: String =
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
  private def cosineSql(a: String, b: String): String =
    s"""(list_reduce(list_transform(list_zip($a, $b), x -> x[1] * x[2]), (p, q) -> p + q)
        / (sqrt(list_reduce(list_transform($a, y -> y * y), (p, q) -> p + q))
         * sqrt(list_reduce(list_transform($b, y -> y * y), (p, q) -> p + q))))"""

  /** The IVF top-10 replay parameterized by probe count — the s03 body
    * (nProbe = 4) and every tier of the s18 probes-recall curve quote
    * THIS one template, so the curve cannot drift from its subject. */
  private def ivfTopkSql(nProbe: Int): String = {
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

  /** d13/d26: [[graft.pipeline.CorpusPipeline.verdictStages]] over the
    * raw documents, every document labeled with the first stage whose
    * keep-list lacks it. Each stage's keep-list is a tracked checkpoint
    * (ids only, never text), and the next stage's pool is the documents
    * semi-joined with it: each list is read by that pool AND by its
    * label join, and without a barrier each read re-runs its whole
    * lineage (d16 re-runs this body once more for its release join).
    * The list is checkpointed as the stage picked it, not re-derived
    * from its pool, which would add a join of the pool with it.
    * Near-dup components come from the MEMOIZED corpus pair set
    * restricted to the pool — Jaccard is pool-independent, so that is
    * the pool's pair set, with no fresh PPJoin run. */
  private def dedupVerdict(s: SparkSession, dir: String, lmGate: Boolean): DataFrame = {
    val d = docs(s, dir)
    def poolComponents(pool: DataFrame): DataFrame = {
      val ids = pool.select(col("doc_id"))
      graft.operators.Dedup.connectedComponents(neardupPairs(s, dir)
        .join(ids.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
        .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
        .select(col("doc_a"), col("doc_b")))
    }
    val keeps = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    graft.pipeline.CorpusPipeline.verdictStages(d, "src0", lmGate, poolComponents,
      (name, _, ids) => {
        val keep = graft.SessionCache.tracked(ids)
        keeps += name -> keep
        d.join(keep, Seq("doc_id"), "left_semi")
      })
    val dropLabel = Map(
      "quality_filter" -> lit("dropped_quality"),
      "lm_fluency" -> lit("dropped_fluency"),
      "exact_dedup" -> lit("dropped_exact"),
      "neardup_dedup" -> lit("dropped_near"),
      "decontaminate" -> when(col("source") === "src0", "dropped_eval")
        .otherwise("dropped_contaminated"))
    val flagged = keeps.zipWithIndex.foldLeft(d.select(col("doc_id"), col("source"))) {
      case (acc, ((_, keep), i)) => acc.join(keep.withColumn(s"f$i", lit(1)), Seq("doc_id"), "left")
    }
    flagged.select(col("doc_id"),
      keeps.zipWithIndex.foldRight(lit("kept")) { case (((name, _), i), kept) =>
        when(col(s"f$i").isNull, dropLabel(name)).otherwise(kept)
      }.as("verdict"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- deduplication --------------------------------------------------

    // exact dedup via normalized-text fingerprint: one hash-groupBy
    "d01_dedup_exact" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(TF.fingerprint(col("text")).as("fingerprint"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))),

    // the surviving documents after exact dedup (keep = lowest doc_id).
    // Scale shape: the agg shuffles only (fingerprint, partial-min doc_id)
    // after map-side combine, and the semi-join key set is doc_id only —
    // the text column never crosses a shuffle (a window over fingerprint
    // would move full rows). AQE broadcasts the keep-set when small.
    "d02_dedup_survivors" -> ((s, dir) => {
      val d = docs(s, dir)
      val keep = d
        .select(TF.fingerprint(col("text")).as("fingerprint"), col("doc_id"))
        .groupBy(col("fingerprint")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      d.join(keep, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),

    // near-dup ground truth: exact n-gram Jaccard ≥ 0.8 via prefix
    // filtering (guaranteed recall — see operators.Dedup.jaccardPairsExact)
    "d03_jaccard_pairs" -> ((s, dir) => neardupPairs(s, dir)),

    // the scale path: MinHash(128) + LSH(32 bands × r=4) + signature-
    // estimate prefilter + exact verify — identical output to d03 with
    // near-linear candidate volume (see operators.Dedup.minhashLshPairs).
    // Shares the memoized shingle-hash table with d03: the signature
    // build reads materialized long arrays, not text.
    "d04_minhash_lsh" -> ((s, dir) => lshPairs(s, dir)),

    // incremental-ingest dedup: new arrivals checked against an EXISTING
    // corpus by content fingerprint — a left_anti join on the fingerprint,
    // shuffling only (fingerprint, doc_id, source), never text. 'src0' is
    // the harness's designated existing corpus (a fixed domain, like
    // q32's explicit pivot values); production passes any baseline table.
    "d08_incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        TF.fingerprint(col("text")).as("fingerprint"))
      val existing = d.filter(col("source") === "src0").select(col("fingerprint"))
      d.filter(col("source") =!= "src0")
        .join(existing, Seq("fingerprint"), "left_anti")
        .select(col("doc_id"), col("source"))
    }),

    // bloom-gated incremental dedup — d08's cheap path for the nightly
    // ingest at 100 TB: the existing corpus's fingerprints fold into a
    // RELATIONAL Bloom filter (sparse (block, lane) rows — 1024 bits
    // here, a billion-key bloom is just more rows of the same table,
    // unlike a fixed-column sketch), arrivals probe it via two broadcast
    // joins keyed on their bit blocks, and ONLY bloom-positive arrivals
    // pay the exact confirm join against the corpus fingerprint set —
    // definite-new rows (the vast majority of a healthy ingest) never
    // shuffle toward the corpus at all. One-sided error by construction:
    // is_dup ⇒ bloom_maybe (no false negatives); the bloom_maybe ∧
    // ¬is_dup rows are the measured false-positive mass. All bit algebra
    // is engine-exact (FNV probe positions, shiftleft masks incl. the
    // bit-63 signed reinterpretation, bit_or lanes — a06's verified
    // machinery in sparse form). The corpus has no cross-source exact
    // dups, so tonight's batch deterministically includes a RE-INGEST
    // slice (every third src0 doc arriving again under a shifted id) —
    // the true-positive path the gate exists for.
    "d17_bloom_gate" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val reingest = base
        .filter(col("source") === "src0" && col("doc_id") % 3 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          lit("re0").as("source"), col("text"))
      val d = base.unionByName(reingest)
        .select(col("doc_id"), col("source"),
          TF.fingerprint(col("text")).as("fp"))
        .withColumn("hu", Hashing.fnvChecksum(col("fp").cast(BinaryType)))
      def pos1(h: Column) = h.bitwiseAND(lit(1023L))
      def pos2(h: Column) = shiftrightunsigned(h, 10).bitwiseAND(lit(1023L))
      def mask(p: Column) = call_function("shiftleft", lit(1L),
        p.bitwiseAND(lit(63L)).cast(IntegerType))
      val existing = d.filter(col("source") === "src0")
      val bloom = existing
        .select(explode(array(pos1(col("hu")), pos2(col("hu")))).as("p"))
        .select(shiftright(col("p"), 6).as("block"), mask(col("p")).as("m"))
        .groupBy(col("block")).agg(expr("bit_or(m)").as("lane"))
      val arr = d.filter(col("source") =!= "src0")
        .select(col("doc_id"), col("source"), col("fp"),
          pos1(col("hu")).as("p1"), pos2(col("hu")).as("p2"))
      val probed = arr
        .join(broadcast(bloom.select(col("block").as("blk1"), col("lane").as("l1"))),
          shiftright(col("p1"), 6) === col("blk1"), "left")
        .join(broadcast(bloom.select(col("block").as("blk2"), col("lane").as("l2"))),
          shiftright(col("p2"), 6) === col("blk2"), "left")
        .select(col("doc_id"), col("source"), col("fp"),
          (coalesce(col("l1").bitwiseAND(mask(col("p1"))) =!= 0, lit(false)) &&
           coalesce(col("l2").bitwiseAND(mask(col("p2"))) =!= 0, lit(false)))
            .as("bloom_maybe"))
      val exFp = existing.select(col("fp")).distinct()
        .withColumn("hit", lit(true))
      probed.filter(col("bloom_maybe"))
        .join(exFp, Seq("fp"), "left")
        .select(col("doc_id"), col("source"), col("bloom_maybe"),
          coalesce(col("hit"), lit(false)).as("is_dup"))
        .unionByName(probed.filter(!col("bloom_maybe"))
          .select(col("doc_id"), col("source"), col("bloom_maybe"),
            lit(false).as("is_dup")))
    }),

    // normalization-aware dedup — t29's cleaning pass composed INTO the
    // dedup pipeline, with the measurement that justifies running it.
    // Setup: the CANONICAL corpus carries composed accents (mod-3 docs,
    // "\u00e1" — the publisher's bytes); a deterministic RE-CRAWL of
    // every doc arrives with the same visible text but different bytes
    // — NFD-decomposed accents (a + U+0301), control-char litter
    // (mod 5), doubled spaces (mod 7) — ids shifted. Fingerprint-dedup
    // runs twice, on RAW text and on NORMALIZED text: raw matching
    // leaks every byte-variant duplicate (decomposed accents and
    // controls change tokens; only whitespace noise is already
    // invisible to the tokenizer), while normalized matching must
    // recover EVERY re-crawl — the per-doc (matched_raw, matched_norm)
    // table quantifies exactly what a pipeline without the cleaning
    // pass would leak. Two map-only fingerprint projections + two
    // broadcast-sized probes; nothing here shuffles text.
    "d18_normalized_dedup" -> ((s, dir) => {
      def accent(t: Column, id: Column, rep: String): Column =
        when(id % 3 === 0, regexp_replace(t, "a", rep)).otherwise(t)
      def dirty(t: Column, id: Column): Column = {
        val d1 = when(id % 5 === 0,
          concat(lit("\u0007"), t, lit("\u0007"))).otherwise(t)
        when(id % 7 === 0, regexp_replace(d1, " ", "  ")).otherwise(d1)
      }

      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val canonical = base.select(col("doc_id"),
        accent(col("text"), col("doc_id"), "\u00e1").as("text"))
      val recrawl = base.select((col("doc_id") + 200000L).as("doc_id"),
        dirty(accent(col("text"), col("doc_id"), "a\u0301"),
          col("doc_id")).as("text"))
      val fpRaw = canonical.select(
        TF.fingerprint(col("text")).as("fp_raw")).distinct()
      val fpNorm = canonical.select(
        TF.fingerprint(cleanText(col("text"))).as("fp_norm")).distinct()
      recrawl
        .select(col("doc_id"),
          TF.fingerprint(col("text")).as("fp_raw"),
          TF.fingerprint(cleanText(col("text"))).as("fp_norm"))
        .join(fpRaw.withColumn("mr", lit(true)), Seq("fp_raw"), "left")
        .join(fpNorm.withColumn("mn", lit(true)), Seq("fp_norm"), "left")
        .select(col("doc_id"),
          coalesce(col("mr"), lit(false)).as("matched_raw"),
          coalesce(col("mn"), lit(false)).as("matched_norm"))
    }),

    // scrub → dedup interaction witness (d18's normalization-leak
    // measurement extended to the PII stage): volatile per-crawl PII —
    // session emails, visitor IPs — is exactly the content that SPLITS
    // re-crawl dup clusters, because two captures of the same page differ
    // only in those spans. Setup: mod-2 docs in the canonical crawl carry
    // crawl-derived PII (address + IP whose VALUES depend on a crawl
    // salt); a deterministic re-crawl of every doc arrives under shifted
    // ids with the same underlying text but fresh salt (different
    // address/IP). Fingerprint-dedup runs twice — raw text leaks every
    // PII-carrying re-crawl (values differ ⇒ fingerprints differ), while
    // the SCRUBBED fingerprint (TF.scrubPii's blind tags; the
    // pseudonymized form would NOT work — keyed tags preserve the value
    // distinction by design) must recover all of them. Two map-only
    // fingerprint projections + two broadcast-sized probes, as in d18.
    "d25_scrub_dedup" -> ((s, dir) => {
      def crawl(t: Column, id: Column, salt: Int): Column =
        when(id % 2 === 0, concat(t,
          lit(" sess s"), (id * 7 + lit(salt.toLong)).cast("string"),
          lit("@example.com from 10."),
          pmod(id + lit(salt.toLong), lit(256L)).cast("string"),
          lit("."), pmod(id, lit(256L)).cast("string"),
          lit("."), pmod(id + lit(salt.toLong), lit(250L)).cast("string")))
          .otherwise(t)
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val canonical = base.select(col("doc_id"),
        crawl(col("text"), col("doc_id"), 1).as("text"))
      val recrawl = base.select((col("doc_id") + 300000L).as("doc_id"),
        crawl(col("text"), col("doc_id"), 2).as("text"))
      val fpRaw = canonical.select(
        TF.fingerprint(col("text")).as("fp_raw")).distinct()
      val fpScrub = canonical.select(
        TF.fingerprint(TF.scrubPii(col("text"))).as("fp_scrub")).distinct()
      recrawl
        .select(col("doc_id"),
          TF.fingerprint(col("text")).as("fp_raw"),
          TF.fingerprint(TF.scrubPii(col("text"))).as("fp_scrub"))
        .join(fpRaw.withColumn("mr", lit(true)), Seq("fp_raw"), "left")
        .join(fpScrub.withColumn("ms", lit(true)), Seq("fp_scrub"), "left")
        .select(col("doc_id"),
          coalesce(col("mr"), lit(false)).as("matched_raw"),
          coalesce(col("ms"), lit(false)).as("matched_scrubbed"))
    }),

    // per-SOURCE duplication profile: exact-dup verdicts (d01/d02
    // semantics — md5 token fingerprint, min-doc_id survivor) rolled up
    // by crawl source — "which domains are template farms", the
    // diagnostic that decides per-domain recrawl and cap policy before
    // any doc is dropped. n_dup_docs counts docs in any multi-copy
    // group; n_removed counts the non-survivors (what global dedup
    // would actually delete). Scale: text collapses to its 16-byte
    // fingerprint in the first projection, so both shuffles (group by
    // fingerprint, then by source) move fixed-width rows; the verdict
    // join is fingerprint-keyed and co-partitioned with the group agg.
    "d19_dup_by_source" -> ((s, dir) => {
      val fp = docs(s, dir).select(col("doc_id"), col("source"),
        TF.fingerprint(col("text")).as("fingerprint"))
      val grp = fp.groupBy(col("fingerprint"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      fp.join(grp, Seq("fingerprint"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
          sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L))
            .as("n_removed"))
        .withColumn("removal_rate",
          col("n_removed").cast(DoubleType) / col("n_docs").cast(DoubleType))
    }),

    // dedup THRESHOLD TUNING: the pair-similarity spectrum — exact
    // Jaccard pairs down to 0.6 (d03's PPJoin machinery on the shared
    // shingle-hash table, with the weaker prefix filter the lower
    // threshold implies), binned by similarity decile. The histogram is
    // what decides where to SET the near-dup threshold: a bimodal
    // spectrum (organic tail vs template spike) gives a clean cut, a
    // flat one warns that any threshold is arbitrary. decile 10 = exact
    // duplicates (J = 1.0). The jaccard double is the same
    // inter/(na+nb−inter) division both engines compute, so the decile
    // floor is cross-engine exact.
    "d20_sim_histogram" -> ((s, dir) =>
      histPairs(s, dir)
        .select(floor(col("jaccard") * 10).cast(IntegerType).as("sim_decile"))
        .groupBy(col("sim_decile")).agg(count(lit(1)).as("n_pairs"))),

    // cross-source leakage matrix — WHICH source pairs share near-dup
    // content (mirror sites, syndication, benchmark text republished in
    // a crawl), the provenance table d19's within-source profile can't
    // see. Reuses the MEMOIZED d04 LSH pair table (zero incremental
    // pair work in a session that already deduped) + two doc_id-keyed
    // source lookups; sources are normalized to an unordered pair via
    // least/greatest so each source pair is ONE row. count/max only —
    // no order-sensitive float folds — so the hash contract is exact.
    "d21_cross_source_leakage" -> ((s, dir) => {
      val src = docs(s, dir).select(col("doc_id"), col("source"))
      lshPairs(s, dir)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
          Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
          Seq("doc_b"))
        .filter(col("sa") =!= col("sb"))
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"), col("jaccard"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
    }),

    // survivor-POLICY audit — dedup keeps one doc per duplicate
    // cluster, but WHICH one is a policy: min-id (d01/d02's stable
    // default), longest (d07), or highest model quality (what a
    // training-data pipeline actually wants — the duplicates differ by
    // boilerplate and truncation, and keeping the best copy is free).
    // This table measures what the quality policy buys: per multi-doc
    // cluster, the argmax-quality survivor vs the min-id survivor and
    // both scores, with the disagreement flag — the evidence for (or
    // against) switching policies, measured not guessed. Composes the
    // VERIFIED d06 components and t27 scores; the quality argmax is
    // one max(struct) aggregate (no window), joins are doc/cluster-
    // keyed, everything bounded by cluster count.
    "d22_survivor_policy" -> ((s, dir) => {
      val comps = queries("d06_neardup_groups")(s, dir)
      val scores = queries("t27_quality_classifier")(s, dir)
        .select(col("doc_id"), col("score"))
      val labeled = comps.join(scores, Seq("doc_id"))
      labeled.groupBy(col("component"))
        .agg(count(lit(1)).as("n_docs"),
          max(struct(col("score").as("s"), (-col("doc_id")).as("nid"))).as("mq"),
          min(col("doc_id")).as("minid_keep_id"))
        .select(col("component"), col("n_docs"),
          (-col("mq.nid")).as("qual_keep_id"), col("mq.s").as("qual_score"),
          col("minid_keep_id"))
        .join(scores.select(col("doc_id").as("minid_keep_id"),
          col("score").as("minid_score")), Seq("minid_keep_id"))
        .select(col("component"), col("n_docs"),
          col("qual_keep_id"), col("qual_score"),
          col("minid_keep_id"), col("minid_score"),
          (col("qual_keep_id") === col("minid_keep_id")).as("policies_agree"))
    }),

    // MinHash signature-width tuning curve — s18's discipline applied
    // to the dedup tier's main knob: how much Jaccard-estimate error
    // does each signature size buy back? One k=128 signature per doc;
    // because components are independent per-j mixes, the FIRST k
    // components ARE the k-wide signature (Matryoshka property, free
    // truncation — no per-k rebuild), so the four tiers are slices of
    // one table. Errors are measured on d20's VERIFIED exact pair set
    // (J ≥ 0.6 — the operating range a threshold lives in); the mean
    // is a pair-order-pinned fold (e16's pattern) so the double sum is
    // bit-identical cross-engine. Expected ~1/√k decay is what the
    // table shows an operator deciding between 32 and 128.
    "d23_minhash_k_curve" -> ((s, dir) => {
      val ks = Seq(16, 32, 64, 128)
      val pairs = histPairs(s, dir)
      // signatures only for pair-PARTICIPATING docs (the semi-join cuts
      // the 128-mix work to the pair set's id universe), computed once
      // and materialized — the two probe branches shuffle on different
      // keys, so without the checkpoint each would re-derive every
      // signature (the sigTable memo's lesson, applied locally)
      val ids = pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
      val sig = graft.SessionCache.tracked(docs(s, dir)
        .join(ids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          Hashing.fnvMinhashSignature(TF.shingles(col("text")), 128).as("sig")))
      val errs = pairs
        .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sa")),
          Seq("doc_a"))
        .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sb")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          explode(array(ks.map { k =>
            struct(lit(k).as("k"),
              abs(Hashing.sigMatchCount(
                  slice(col("sa"), 1, k), slice(col("sb"), 1, k))
                .cast(DoubleType) / k - col("jaccard")).as("err"))
          }: _*)).as("x"))
        .select(col("doc_a"), col("doc_b"),
          col("x.k").as("k"), col("x.err").as("err"))
      errs.groupBy(col("k"))
        .agg(count(lit(1)).as("n_pairs"),
          max(col("err")).as("max_abs_err"),
          aggregate(
            transform(array_sort(collect_list(
              struct(col("doc_a"), col("doc_b"), col("err")))),
              x => x.getField("err")), lit(0.0), (a, x) => a + x)
            .as("sum_err"))
        .select(col("k"), col("n_pairs"),
          (col("sum_err") / col("n_pairs")).as("mean_abs_err"),
          col("max_abs_err"))
    }),

    // incremental NEAR-dup dedup (d08's exact-fingerprint sibling): new
    // arrivals (odd doc_ids stand in for tonight's batch) probe the
    // existing corpus's (even ids) LSH band index — new ⋈ index only,
    // never index ⋈ index, the shape that amortizes a 100 TB corpus
    // across nightly ingests. Shares the memoized shingle-hash table;
    // see Dedup.minhashLshPairsAgainst for the banding/recall math.
    "d14_incremental_neardup" -> ((s, dir) => {
      val hs = hsTable(s, dir)
      graft.operators.Dedup.minhashLshPairsAgainst(
        hs.filter(pmod(col("doc_id"), lit(2L)) === 1),
        hs.filter(pmod(col("doc_id"), lit(2L)) === 0),
        0.8, k = 128, bands = 32, estFloor = 0.6)
    }),

    // duplicate-SPAN detection (Lee et al. ACL'22): maximal token ranges
    // whose every 8-gram repeats in the corpus — span-level boilerplate
    // removal, the complement of whole-doc dedup. Three narrow shuffles;
    // gram strings never leave the hash projection (see Dedup.duplicateSpans)
    "d15_span_dedup" -> ((s, dir) =>
      graft.operators.Dedup.duplicateSpans(docs(s, dir), "doc_id", "text", 8)),

    // span REMOVAL — the transform d15's detection exists for: emit the
    // corpus with every duplicated span excised (the ExactSubstr-dedup
    // output stage — cut the repeated range, keep the document). Tokens
    // anti-join their own doc's span table on position containment
    // (doc_id equi key + range residual; spans per doc are bounded, so
    // the residual scan is per-key-tiny at any corpus size), survivors
    // reassemble position-ordered. Docs that vanish entirely under
    // removal — and empty docs — surface as explicit ""/0 rows via the
    // left join, never silently dropped. Composes the VERIFIED d15
    // span table, so detection and surgery cannot drift.
    "d24_span_removal" -> ((s, dir) => {
      val spans = queries("d15_span_dedup")(s, dir)
      val toks = docs(s, dir)
        .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("p0", "tok")))
        .select(col("doc_id"), (col("p0") + 1).cast(LongType).as("pos"), col("tok"))
      val kept = toks.join(spans,
        toks("doc_id") === spans("doc_id") &&
          col("pos") >= col("span_start") && col("pos") <= col("span_end"),
        "left_anti")
      val rebuilt = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as("ct"))
      docs(s, dir).select(col("doc_id"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("ct"), lit("")).as("clean_text"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept_tokens"))
    }),

    // duplicate-cluster formation over the near-dup pair graph: connected
    // components via iterative min-label propagation (the post-pair stage
    // of an LLM-data dedup pipeline — keep min doc_id per cluster)
    "d06_neardup_groups" -> ((s, dir) =>
      graft.operators.Dedup.connectedComponents(
        neardupPairs(s, dir).select(col("doc_a"), col("doc_b")))),

    // the FINAL dedup output: one representative per duplicate cluster
    // (longest text wins, ties to min doc_id), singletons kept as their
    // own cluster — what an LLM-data pipeline actually emits downstream
    "d07_cluster_keep" -> ((s, dir) => {
      val d = docs(s, dir)
      val comps = graft.operators.Dedup.connectedComponents(
        neardupPairs(s, dir).select(col("doc_a"), col("doc_b")))
      val labeled = d.select(col("doc_id"), col("n_chars"))
        .join(comps, Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
      labeled
        .withColumn("rn", row_number().over(w.orderBy(col("n_chars").desc, col("doc_id"))))
        .withColumn("n_docs", count(lit(1)).over(w))
        .filter(col("rn") === 1)
        .select(col("component"), col("doc_id").as("keep_id"), col("n_docs"))
    }),

    // fuzzy (edit-distance) near-dup pairs over 160-char prefixes: the
    // character-level complement to d03's token-shingle Jaccard — catches
    // typo/boilerplate variants as a bounded levenshtein, found via the
    // partition-based Pass-Join candidate scheme (pigeonhole segments +
    // substring probes + length/position windows + threshold-bounded
    // verify; see Dedup.editDistancePairs — segment equality stays
    // selective on this corpus's tiny 377-gram vocabulary where gram
    // signatures degenerate to all-pairs). maxDist=8 sits in the corpus's
    // measured margin (matching pairs at ed ∈ {0,4}, next band at 38),
    // and every prefix has ≥ k+1 chars — the operator's recall contract,
    // checked across SFs (corpus min length 44).
    "d09_editdist_pairs" -> ((s, dir) =>
      graft.operators.Dedup.editDistancePairs(
        docs(s, dir), "doc_id", "text", prefixLen = 160, maxDist = 8)),

    // passage-level (sub-document) dedup: non-overlapping 10-token
    // windows, fingerprinted to 8-byte FNV hashes in the chunking
    // projection — the shuffles move longs, never chunk text. A chunk is
    // "duplicated" when it occurs in ≥2 distinct documents; each doc
    // reports how many of its chunks are corpus-duplicated. Unlike t12's
    // eval probe, the duplicated-chunk table is corpus-scale, so
    // membership is a plain shuffled equi-join on the hash (NOT a
    // broadcast); the per-doc aggregates stay on the doc_id
    // partitioning. Short docs (< 10 tokens) have no chunks and drop
    // out, mirroring the oracle. Tail tokens past the last full window
    // are ignored (fixed-stride chunking, the standard passage-dedup
    // framing).
    "d10_chunk_dedup" -> ((s, dir) => {
      val w = 10
      val tk = docs(s, dir).select(col("doc_id"), TF.tokens(col("text")).as("tks"))
      val ch = tk.select(col("doc_id"),
          explode(when(size(col("tks")) >= w,
              transform(sequence(lit(0), floor(size(col("tks")) / w).cast("int") - 1),
                i => Hashing.fnvChecksum(
                  array_join(slice(col("tks"), i * w + 1, lit(w)), " ").cast("binary"))))
            .otherwise(array().cast("array<bigint>"))).as("h"))
      val dup = ch.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd")).filter(col("nd") >= 2)
        .select(col("h"))
      val perDoc = ch.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
      val dupPerDoc = ch.join(dup, Seq("h"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_chunks"))
      perDoc.join(dupPerDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"))
    }),

    // content-defined chunking (CDC — the rsync/dedup primitive d10's
    // fixed-stride windows approximate): a boundary falls after position
    // i+7 wherever the 8-char window hash at i satisfies h ≡ 0 (mod 64),
    // so chunk boundaries move WITH the content — an insertion early in
    // a document shifts d10's fixed windows but leaves CDC boundaries
    // downstream of it untouched (expected chunk ≈ 64 chars). Pure
    // per-row expression work: window hashes, cut positions, and chunk
    // fingerprints all materialize inside the scan task via
    // transform/filter/zip_with — no shuffle at any corpus size; the
    // emitted rows are (doc_id, chunk_idx, chunk_len, chunk_hash), the
    // fingerprint table downstream passage-dedup joins on.
    "d11_cdc_chunks" -> ((s, dir) => {
      val len = length(col("text"))
      val cuts = when(len >= 8,
        filter(
          transform(sequence(lit(1), len - 7),
            i => struct(i.as("i"),
              Hashing.fnvChecksum(col("text").substr(i, lit(8)).cast(BinaryType)).as("h"))),
          w => pmod(w.getField("h"), lit(64L)) === 0))
        .otherwise(array().cast("array<struct<i:int,h:bigint>>"))
      docs(s, dir)
        .select(col("doc_id"), col("text"),
          transform(cuts, w => w.getField("i") + 7).as("cs"))
        .select(col("doc_id"), col("text"),
          concat(array(lit(1)), transform(col("cs"), c => c + 1)).as("starts"),
          concat(col("cs"), array(length(col("text")))).as("ends"))
        .select(col("doc_id"),
          posexplode(zip_with(col("starts"), col("ends"),
            (st, en) => struct(st.as("st"), en.as("en")))).as(Seq("chunk_idx", "c")),
          col("text"))
        .filter(col("c.en") >= col("c.st"))
        .select(col("doc_id"), col("chunk_idx"),
          (col("c.en") - col("c.st") + 1).as("chunk_len"),
          Hashing.fnvChecksum(
            col("text").substr(col("c.st"), col("c.en") - col("c.st") + 1)
              .cast(BinaryType)).as("chunk_hash"))
    }),

    // asymmetric containment pairs — |A∩B| / min(|A|,|B|) ≥ 0.8: the
    // quote/boilerplate-inclusion relation d03's symmetric Jaccard
    // misses (a short doc embedded in a long one has containment ≈ 1,
    // Jaccard ≈ |A|/|B|). Shares the memoized shingle-hash table;
    // see Dedup.containmentPairs for the one-sided prefix filter.
    "d12_containment_pairs" -> ((s, dir) =>
      graft.operators.Dedup.containmentPairs(hsTable(s, dir), 0.8)),

    // the dedup-pipeline VERDICT table — CorpusPipeline's staged chain
    // (quality → exact → near-dup → eval/contamination) surfaced as one
    // labeled, ORACLE-CHECKED result: every document and the stage that
    // dropped it (or 'kept'). This hash-verifies the pipeline's
    // end-to-end semantics cross-engine, not just each stage alone — the
    // audit trail a production dedup run ships next to its output corpus.
    "d13_dedup_verdict" -> ((s, dir) => dedupVerdict(s, dir, lmGate = false)),

    // the RELEASE manifest — what actually ships: d13's rule-based
    // verdict pipeline composed with t27's model-based quality gate
    // (the two filters every production corpus passes: deterministic
    // rules + a learned classifier). A pure doc_id-keyed composition of
    // two already-verified queries — the oracle embeds THE SAME two
    // oracle bodies as subqueries, so the composed replay cannot drift
    // from its stages; the join reuses d13's memoized pair machinery.
    "d16_corpus_release" -> ((s, dir) => {
      val verdict = queries("d13_dedup_verdict")(s, dir)
      val gate = queries("t27_quality_classifier")(s, dir)
      verdict.filter(col("verdict") === "kept").select(col("doc_id"))
        .join(gate.filter(col("keep"))
          .select(col("doc_id"), col("score")), Seq("doc_id"))
    }),

    // d13's verdict with the chain's t39 LM-fluency gate on — the CCNet
    // ordering: heuristic quality → LM perplexity filter → dedup →
    // decontamination. The gate runs THE SAME LmFluency.score body the
    // oracle-verified t39 runs (and the oracle embeds t39's verified
    // SQL). Distributed shape: one map-side broadcast-scored explode
    // plus a doc_id-keyed agg on top of d13's plan — no new corpus-sized
    // shuffle.
    "d26_verdict_lm" -> ((s, dir) => dedupVerdict(s, dir, lmGate = true)),

    // SimHash near-dup: 64-bit signatures (custom Catalyst expression),
    // byte-banded candidate join (8 bands ⇒ complete for hamming ≤ 7)
    "d05_simhash_pairs" -> ((s, dir) => {
      val sig = docs(s, dir).select(col("doc_id"),
        Hashing.simhash64(TF.tokens(col("text"))).as("sig"))
      val banded = sig.select(col("doc_id"), col("sig"),
        posexplode(array((0 until 8).map(b =>
          shiftright(col("sig"), b * 8).bitwiseAND(lit(0xffL))): _*)).as(Seq("band", "chunk")))
      banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          Hashing.hammingDist(col("a.sig"), col("b.sig")).as("hamming"))
        // gate before the dedup shuffle (the m09 lesson): only
        // qualifying pairs leave the band join's codegen stage
        .filter(col("hamming") <= 6)
        .distinct()
    }),

    // embedding-cosine near-dup pairs. EXACT all-pairs by design: the
    // qualifying pairs sit just above the 0.45 threshold (measured: all in
    // [0.45, 0.7), nearest non-pair at 0.4497), angles where any LSH
    // bucketing loses recall — so the pair scan stays exact. The speed
    // comes from (a) norms computed once per vector, not per pair, and
    // (b) the codegen'd DotProduct kernel in the pair projection; the
    // SCALE comes from block partitioning (blockPairJoin), with no
    // BroadcastNestedLoopJoin/cartesian anywhere. The approximate path is
    // s02's bucketed ANN.
    "e01_embedding_neardup" -> ((s, dir) => {
      val B = 8
      val e = emb(s, dir)
        .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(VF.normSq(col("v"))))
        .withColumn("blk", pmod(col("vec_id"), lit(B)).cast("int"))
      blockPairJoin(s, e, B, Seq("v", "nrm"))
        .select(
          least(col("id_l"), col("id_r")).as("id_a"),
          greatest(col("id_l"), col("id_r")).as("id_b"),
          // dot's elementwise products commute and the fold order is the
          // same left-to-right index walk, so the score is bit-identical
          // regardless of which side holds the smaller vec_id
          (VF.dot(col("v_l"), col("v_r")) / (col("nrm_l") * col("nrm_r"))).as("score"))
        .filter(col("score") >= 0.45)
    }),

    // symmetric int8 quantization per vector — the storage/serving form
    // of an embedding corpus (4× smaller than float32, 8× than float64).
    // scale = 127/max|v_i| per row; q_i = floor(v_i·scale + 0.5) pins the
    // rounding to an expression both engines evaluate identically (round()
    // is HALF_UP in Spark, HALF_EVEN in DuckDB — floor(+0.5) sidesteps
    // that). Pure per-row map: no shuffle, whole-stage codegen.
    // Staged projections on purpose: max_abs is computed ONCE per row and
    // referenced inside the transform lambda as a plain attribute — an
    // inline aggregate subtree captured by the lambda would re-evaluate
    // per element (lambda-capture re-eval; CollapseProject keeps the
    // stages apart because the producer is non-cheap).
    "e02_embedding_quantize" -> ((s, dir) =>
      emb(s, dir)
        .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
        .select(col("vec_id"), col("v"),
          aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))).as("max_abs"))
        .select(col("vec_id"), col("max_abs"),
          // serialized as a canonical csv string: the harness hash-compare
          // operates on scalar columns (arrays aren't hashable in its
          // pandas path), and int-to-string is identical in both engines
          array_join(transform(col("v"),
            x => floor(x * (lit(127.0) / greatest(col("max_abs"), lit(1e-30))) + lit(0.5))
              .cast("int").cast("string")), ",").as("q8"))),

    // explicit cluster assignment — the IVF coarse quantizer surfaced as
    // its own operator (the table you'd physically partition an embedding
    // corpus by): per-vector argmax-dot centroid id + the winning dot.
    // Centroid dots are built once per row (staged projection, non-cheap
    // producer) and the argmax is first-max-wins — deterministic.
    "e03_centroid_assign" -> ((s, dir) => {
      val dim = 64; val nC = 16
      val v = VF.toDouble(col("embedding"))
      emb(s, dir)
        .select(col("vec_id"),
          array((0 until nC).map(c => VF.dot(v, lit(VF.centroid(c, dim)))): _*).as("dots"))
        .select(col("vec_id"),
          array_position(col("dots"), array_max(col("dots"))).cast("int").as("centroid_id"),
          array_max(col("dots")).as("best_dot"))
    }),

    // binary (1-bit) quantization — the third compression tier next to
    // e02 (int8) and e05 (PQ): a 64-dim vector collapses to the 64 sign
    // bits of ONE long (64× smaller than float64), and similarity
    // becomes Hamming distance (xor + popcount — the cheapest possible
    // distance kernel). Packing is a per-row fold of distinct powers of
    // two (bit 63 contributes Long.MinValue — the signed reinterpretation
    // — so the fold never overflows ANSI arithmetic); retrieval is
    // top-10 by Hamming to query vector 0, ties on vec_id.
    "e06_binary_quantize" -> ((s, dir) => {
      def pack(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = aggregate(
        zip_with(v, sequence(lit(0L), lit(63L)), (x, i) =>
          when(x >= 0,
            when(i === 63, lit(Long.MinValue))
              .otherwise(pow(lit(2.0), i.cast(DoubleType)).cast(LongType)))
            .otherwise(lit(0L))),
        lit(0L), (a, x) => a + x)
      val e = emb(s, dir)
        .select(col("vec_id"), pack(VF.toDouble(col("embedding"))).as("bq"))
      val q = e.filter(col("vec_id") === 0).select(col("bq").as("qbq"))
      e.crossJoin(broadcast(q))
        .select(col("vec_id"), col("bq"),
          Hashing.hammingDist(col("bq"), col("qbq")).as("hamming"))
        .orderBy(col("hamming").asc, col("vec_id"))
        .limit(10)
    }),

    // semantic dedup, SemDeDup-shaped (Abbas et al. 2023, arXiv
    // 2303.09540): assign every embedding to its nearest deterministic
    // centroid (e03's coarse quantizer), then search for duplicates ONLY
    // within a cluster — the pairwise cosine work drops from O(n²) to
    // O(Σ|cluster|²), the published trick that makes semantic dedup
    // feasible on web-scale corpora (cluster count grows with the corpus,
    // so cluster size — and the per-cluster quadratic — stays bounded).
    // The within-cluster pair join shuffles both sides by centroid_id
    // (co-partitioned, no cartesian node); survivors keep the smallest
    // vec_id of each duplicate edge, d02's deterministic keep rule.
    "e07_semdedup" -> ((s, dir) => {
      val dim = 64; val nC = 16; val tau = 0.45
      val assigned = emb(s, dir)
        .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
        .withColumn("dots",
          array((0 until nC).map(c => VF.dot(col("v"), lit(VF.centroid(c, dim)))): _*))
        .select(col("vec_id"), col("v"),
          array_position(col("dots"), array_max(col("dots"))).cast("int")
            .as("centroid_id"),
          sqrt(VF.normSq(col("v"))).as("nrm"))
      val a = assigned.select(col("centroid_id"), col("vec_id").as("id_a"),
        col("v").as("v_a"), col("nrm").as("nrm_a"))
      val b = assigned.select(col("centroid_id"), col("vec_id").as("id_b"),
        col("v").as("v_b"), col("nrm").as("nrm_b"))
      val dropped = a.join(b, Seq("centroid_id"))
        .filter(col("id_a") < col("id_b"))
        // dot's fold is the same left-to-right index walk on both sides,
        // so the score is orientation-independent (e01's determinism note)
        .filter(VF.dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b"))
          >= tau)
        .select(col("id_b").as("vec_id")).distinct()
      assigned.select(col("vec_id"), col("centroid_id"))
        .join(dropped.withColumn("_drop", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("centroid_id"),
          col("_drop").isNull.as("kept"))
    }),

    // prototypicality-based corpus pruning (Sorscher et al., NeurIPS'22
    // "Beyond neural scaling laws"): a vector's prototypicality is its
    // cosine to the centroid of its assigned cluster; the MOST
    // prototypical (easiest, most redundant) 20% of each cluster is
    // pruned and the hard diverse tail kept — the published data-diet
    // rule for large corpora. Spark shape: e03's argmax-dot assignment
    // (per-row, no shuffle), then ONE window partitioned by centroid_id
    // for rank + cluster size — at 100 TB the window key has
    // cluster-count cardinality, so partitions stay balanced by the
    // quantizer's design (cluster count grows with the corpus, size
    // stays bounded — e07's contract). Centroid norms are plan-time
    // literals: same left-to-right fold the SQL twin replays, so the
    // cosine is bit-identical cross-engine.
    "e09_prototype_prune" -> ((s, dir) => {
      val scored = protoCosScored(s, dir)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("centroid_id"))
      scored
        .withColumn("rn",
          row_number().over(w.orderBy(col("proto_cos").desc, col("vec_id"))))
        .withColumn("n_c", count(lit(1)).over(w))
        .select(col("vec_id"), col("centroid_id"), col("proto_cos"),
          (col("rn") > ceil(lit(0.2) * col("n_c"))).as("kept"))
    }),

    // cluster-balanced DIVERSITY sampling — the selection complement of
    // e09's pruning: pick the m LEAST prototypical vectors of every
    // cluster (the hard boundary examples active-learning / eval-set
    // construction wants), exactly m per cluster regardless of cluster
    // size skew, so the sample is balanced by construction. Same
    // plan-time-literal centroid scoring as e03/e09 (bit-exact
    // cross-engine); the per-cluster pick runs through the custom
    // TopKPerKey bounded heaps — O(n log m) with memory O(clusters · m),
    // no full partition sort, the selection shape that survives 100 TB
    // (cluster count grows, per-cluster state stays m rows).
    "e14_diverse_sample" -> ((s, dir) =>
      graft.operators.Relational.topKPerKey(protoCosScored(s, dir),
        Seq("centroid_id"), Seq(col("proto_cos").asc, col("vec_id").asc), 5)),

    // representation-alignment report (the "alignment" half of Wang &
    // Isola ICML'20's alignment/uniformity diagnostics): per-label mean
    // pairwise squared distance between embeddings — how tightly a
    // class clusters. The SCALE trick is the moment identity
    // Σᵢⱼ‖xᵢ−xⱼ‖² = 2n·Σ‖xᵢ‖² − 2‖Σxᵢ‖²: the naive form enumerates
    // O(n²) pairs per label (the oracle's formulation is exactly the
    // moment replay; the brute-force pair law lives in the unit test),
    // the shipped form is TWO moment aggregations — linear, map-side
    // combinable, |labels| output rows at any corpus size. Every fold
    // is vec_id/dim-pinned so the doubles are bit-identical
    // cross-engine. (The uniformity half needs log/exp — libm territory
    // — and is deliberately left out of the oracle-checked surface.)
    "e16_alignment" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("label"),
        VF.toDouble(col("embedding")).as("v"))
      val ssq = e
        .select(col("label"), col("vec_id"), VF.normSq(col("v")).as("nsq"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          aggregate(
            transform(array_sort(collect_list(struct(col("vec_id"), col("nsq")))),
              x => x.getField("nsq")), lit(0.0), (a, x) => a + x).as("ssq"))
      val s2 = e
        .select(col("label"), col("vec_id"),
          posexplode(col("v")).as(Seq("dim", "val")))
        .groupBy(col("label"), col("dim"))
        .agg(aggregate(
          transform(array_sort(collect_list(struct(col("vec_id"), col("val")))),
            x => x.getField("val")), lit(0.0), (a, x) => a + x).as("sd"))
        .groupBy(col("label"))
        .agg(aggregate(
          transform(array_sort(collect_list(
            struct(col("dim"), (col("sd") * col("sd")).as("sq")))),
            x => x.getField("sq")), lit(0.0), (a, x) => a + x).as("s2"))
      ssq.join(s2, Seq("label"))
        .select(col("label"), col("n").as("n_vecs"),
          ((lit(2.0) * col("n") * col("ssq") - lit(2.0) * col("s2"))
            / (col("n") * (col("n") - 1)).cast(DoubleType))
            .as("mean_pair_sqdist"))
    }),

    // IVF cell-balance report — the index-health panel behind s03/s18's
    // probe knob: per-cell populations of the e03 coarse quantizer with
    // a load factor normalized so 1.0 = perfectly balanced. Empty cells
    // and hot cells are what make nProbe lie (a probe into an empty
    // cell buys nothing; a hot cell makes one probe scan half the
    // corpus), so this is the table an operator reads NEXT TO the s18
    // recall curve. The full 1..16 cell spine is joined in so empty
    // cells surface as explicit zero rows, not absent ones. Composes
    // the VERIFIED e03 assignment; two fixed-width aggregations, one
    // 16-row spine join — nothing scales past the cell count.
    "e17_cell_balance" -> ((s, dir) => {
      val nC = 16
      val counts = queries("e03_centroid_assign")(s, dir)
        .groupBy(col("centroid_id")).agg(count(lit(1)).as("n_vecs"))
      val total = counts.agg(sum(col("n_vecs")).as("n_total"))
      val spine = s.range(1)
        .select(explode(sequence(lit(1), lit(nC))).as("centroid_id"))
      spine.join(counts, Seq("centroid_id"), "left")
        .crossJoin(broadcast(total))
        .select(col("centroid_id"),
          coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
          (coalesce(col("n_vecs"), lit(0L)).cast(DoubleType) * lit(nC)
            / col("n_total").cast(DoubleType)).as("load_factor"))
    }),

    // quantization-error report — s16's embedding sibling, the "which
    // quantizer can I afford" table a team reads before committing an
    // index format: per-label mean squared reconstruction error of all
    // three quantizers (e02's int8 scalar, e05's 8×16 product
    // quantizer, e06's sign bits with the optimal per-vector scale
    // α = mean|x|), in one pass over the corpus. Every per-vector error
    // is a pinned left-to-right fold (the e13 discipline); scales are
    // STAGED columns so lambda capture can't re-evaluate the producer;
    // per-label means fold vec_id-sorted error lists — bit-identical
    // cross-engine, |labels| output rows at any corpus size.
    "e15_quant_error" -> ((s, dir) => {
      val m = 8; val dsub = 8; val ksub = 16; val dim = 64
      val e = emb(s, dir).select(col("vec_id"), col("label"),
        VF.toDouble(col("embedding")).as("v"))
      val staged = e
        .select(col("vec_id"), col("label"), col("v"),
          aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x)))
            .as("max_abs"))
        .select(col("vec_id"), col("label"), col("v"),
          (lit(127.0) / greatest(col("max_abs"), lit(1e-30))).as("s8"),
          (greatest(col("max_abs"), lit(1e-30)) / lit(127.0)).as("inv8"),
          (aggregate(col("v"), lit(0.0), (a, x) => a + abs(x)) / dim)
            .as("alpha"))
        .select(col("vec_id"), col("label"), col("v"), col("inv8"), col("alpha"),
          transform(col("v"),
            x => floor(x * col("s8") + lit(0.5)).cast("int")).as("q8"))
      val errs = staged.select(col("vec_id"), col("label"),
        aggregate(zip_with(col("v"), col("q8"), (x, c) =>
            (x - c.cast(DoubleType) * col("inv8")) *
            (x - c.cast(DoubleType) * col("inv8"))),
          lit(0.0), (a, x) => a + x).as("e_int8"),
        (0 until m).map { mi =>
          val sub = slice(col("v"), mi * dsub + 1, dsub)
          array_min(array((0 until ksub).map { c =>
            aggregate(zip_with(sub, lit(VF.centroid(1000 + mi * ksub + c, dsub)),
              (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x)
          }: _*))
        }.reduceLeft(_ + _).as("e_pq"),
        aggregate(transform(col("v"), x =>
            (x - col("alpha") * when(x >= 0, lit(1.0)).otherwise(lit(-1.0))) *
            (x - col("alpha") * when(x >= 0, lit(1.0)).otherwise(lit(-1.0)))),
          lit(0.0), (a, x) => a + x).as("e_bin"))
      errs.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          aggregate(
            transform(array_sort(collect_list(struct(col("vec_id"), col("e_int8")))),
              x => x.getField("e_int8")), lit(0.0), (a, x) => a + x).as("s8"),
          aggregate(
            transform(array_sort(collect_list(struct(col("vec_id"), col("e_pq")))),
              x => x.getField("e_pq")), lit(0.0), (a, x) => a + x).as("sp"),
          aggregate(
            transform(array_sort(collect_list(struct(col("vec_id"), col("e_bin")))),
              x => x.getField("e_bin")), lit(0.0), (a, x) => a + x).as("sb"))
        .select(col("label"), col("n").as("n_vecs"),
          (col("s8") / col("n")).as("mse_int8"),
          (col("sp") / col("n")).as("mse_pq"),
          (col("sb") / col("n")).as("mse_binary"))
    }),

    // Johnson–Lindenstrauss random projection, Achlioptas' database-
    // friendly form (KDD'01): 64-dim embeddings drop to 16 dims through
    // the SAME deterministic ±1 Rademacher plane family the LSH tier
    // already generates in-engine (no stored projection matrix — any
    // executor and the SQL oracle regenerate plane p from FNV bits),
    // scaled by 1/√16 = 0.25, an exact power of two so the scaling
    // loses no precision. Pure per-row map, no shuffle; this is the
    // storage/compute reduction in front of clustering or ANN when even
    // PQ (e05) is too lossy to train on — distances are preserved in
    // expectation with (ε, δ) guarantees instead of codebook bias.
    "e08_jl_projection" -> ((s, dir) => {
      val dim = 64; val kOut = 16
      val v = VF.toDouble(col("embedding"))
      emb(s, dir).select(col("vec_id") +:
        (0 until kOut).map(p =>
          (VF.dot(v, lit(VF.planeArray(p, dim))) * lit(0.25)).as(f"p$p%02d")): _*)
    }),

    // one POWER-ITERATION step toward the dominant principal component
    // of the centered embedding cloud — the anisotropy diagnostic (and
    // the first step of whitening) a corpus embedding pipeline runs
    // before cosine-based dedup: if λ₁ dominates, cosine similarity is
    // hostage to one direction and the common-direction removal
    // (all-but-the-top) is warranted. Distributed shape: two map-side-
    // combined aggregations keyed by dim (64 keys — bounded state, never
    // a wide row), a broadcast one-row mean vector, and per-row centered
    // dot products; u = Σᵢ cᵢ(cᵢ·v₀) never materializes the n×n Gram
    // matrix. The per-dim sums are order-pinned (sorted by vec_id before
    // the fold, like e04) so the distributed float math is bit-equal to
    // the SQL replay; production at 100 TB would trade that pin for
    // unordered partial sums and a tolerance compare. v₀ = (1..64), a
    // fixed deterministic start; λ̂ = ‖u‖/‖v₀‖ is the one-step Rayleigh
    // estimate.
    "e10_power_iteration" -> ((s, dir) => {
      val dim = 64
      val v0 = (1 to dim).map(_.toDouble).toArray
      val v0Norm = math.sqrt(v0.map(x => x * x).sum)
      val e = emb(s, dir).select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
      val mu = e.select(col("vec_id"), posexplode(col("v")).as(Seq("dim", "val")))
        .groupBy(col("dim"))
        .agg((aggregate(
            transform(array_sort(collect_list(struct(col("vec_id"), col("val")))),
              x => x.getField("val")),
            lit(0.0), (a, x) => a + x) / count(lit(1))).as("m"))
      val marr = mu.groupBy()
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          x => x.getField("m")).as("marr"))
      val cx = e.crossJoin(broadcast(marr))
        .select(col("vec_id"), zip_with(col("v"), col("marr"), (x, m) => x - m).as("c"))
      val dt = cx.select(col("vec_id"), col("c"), VF.dot(col("c"), lit(v0)).as("d"))
      val u = dt
        .select(col("vec_id"), col("d"), posexplode(col("c")).as(Seq("dim", "cval")))
        .groupBy(col("dim"))
        .agg(aggregate(
            transform(array_sort(collect_list(
              struct(col("vec_id"), (col("cval") * col("d")).as("p")))),
              x => x.getField("p")),
            lit(0.0), (a, x) => a + x).as("uval"))
      val nrm = u.groupBy()
        .agg(sqrt(aggregate(
            transform(array_sort(collect_list(struct(col("dim"), col("uval")))),
              x => x.getField("uval") * x.getField("uval")),
            lit(0.0), (a, x) => a + x)).as("un"))
      u.crossJoin(broadcast(nrm))
        .select(col("dim"), (col("uval") / col("un")).as("pc_loading"),
          (col("un") / lit(v0Norm)).as("eigenvalue"))
    }),

    // -- similarity search ----------------------------------------------

    // brute-force cosine top-k (exact baseline; query = vec_id 0)
    "s01_cosine_topk" -> ((s, dir) => {
      val q = emb(s, dir).filter(col("vec_id") === 0)
        .select(VF.toDouble(col("embedding")))
        .head().getSeq[Double](0)
      VF.cosineTopK(emb(s, dir), "embedding", "vec_id", q, 10)
    }),

    // FILTERED vector search (the production RAG shape: "top-k among
    // MY tenant/language/label only") both ways it is actually built:
    // PREFILTER pushes the predicate into the scan and ranks the
    // filtered subset exactly — always k results, always correct;
    // POSTFILTER ranks globally first (top-50 here, the shape an
    // unfiltered index hands back), then applies the predicate — and
    // returns only the survivors, the recall hazard every vector-store
    // doc warns about when the filter is selective. Since the global
    // list and the subset share one score order, the postfilter hits
    // are a PREFIX of the prefilter ranking (law-tested), so
    // |postfilter| / k read off this output IS the postfilter recall.
    // The 50-row global list broadcasts to pick up labels; no shuffle
    // of the corpus beyond the two TakeOrderedAndProject scans.
    "s17_filtered_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val q0 = e.filter(col("vec_id") === 0)
        .select(VF.toDouble(col("embedding")).as("qv"), col("label")).head()
      val q = q0.getSeq[Double](0)
      val lbl = q0.getInt(1)
      val pre = VF.cosineTopK(
          e.filter(col("label") === lbl), "embedding", "vec_id", q, 10)
        .select(lit("prefilter").as("method"), col("vec_id"), col("score"))
      val post50 = VF.cosineTopK(e, "embedding", "vec_id", q, 50)
      val post = e.select(col("vec_id"), col("label"))
        .join(broadcast(post50), Seq("vec_id"))
        .filter(col("label") === lbl)
        .orderBy(col("score").desc, col("vec_id")).limit(10)
        .select(lit("postfilter").as("method"), col("vec_id"), col("score"))
      pre.unionByName(post)
    }),

    // LSH-bucketed ANN (scale path; deterministic hyperplanes, multiprobe)
    "s02_cosine_topk_lsh" -> ((s, dir) => {
      val q = emb(s, dir).filter(col("vec_id") === 0)
        .select(VF.toDouble(col("embedding")))
        .head().getSeq[Double](0)
      VF.cosineTopKLsh(emb(s, dir), "embedding", "vec_id", q, 10, dim = 64, planes = 8)
    }),

    // the IVF probes→recall TUNING CURVE — the measurement an operator
    // reads before setting nProbe on a production index (s17's
    // "measured, not guessed" discipline applied to the one knob every
    // IVF deployment has to pick): the SAME cosineTopKIvf kernel s03
    // ships runs at probes ∈ {1,2,4,8}, each tier's top-10 scored
    // against the exact scan — recall@10 per probe count in one plan.
    // Each tier scans only its probed cells; the exact list is a
    // 10-row broadcast. Oracle quotes the SAME ivfTopkSql template per
    // tier (s16's composition discipline), so the curve cannot drift
    // from the kernel it tunes.
    "s18_probe_recall" -> ((s, dir) => {
      val q = emb(s, dir).filter(col("vec_id") === 0)
        .select(VF.toDouble(col("embedding")))
        .head().getSeq[Double](0)
      val exact = queries("s01_cosine_topk")(s, dir).select(col("vec_id"))
      val tiers = Seq(1, 2, 4, 8).map { p =>
        VF.cosineTopKIvf(emb(s, dir), "embedding", "vec_id", q, 10,
            dim = 64, nProbe = p)
          .select(lit(p).as("n_probe"), col("vec_id"))
      }.reduce(_ unionByName _)
      tiers
        .join(broadcast(exact.withColumn("hit", lit(1L))), Seq("vec_id"), "left")
        .groupBy(col("n_probe"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        // recall@10 divides by the EXACT list size (10), not by the
        // rows the tier returned: a near-empty probed cell that
        // returns 3 rows, all hits, is recall 0.3 — not a perfect
        // score (k stays alongside as the fill level). s16 divides by
        // its own count only because its methods always fill k.
        .select(col("n_probe"), col("k"), col("n_hits"),
          (col("n_hits").cast(DoubleType) / lit(10.0)).as("recall"))
    }),

    // IVF-style ANN (coarse quantizer + n-probe — the second standard
    // scale path next to s02's LSH; centroids deterministic, see
    // VectorFunctions.cosineTopKIvf)
    "s03_cosine_topk_ivf" -> ((s, dir) => {
      val q = emb(s, dir).filter(col("vec_id") === 0)
        .select(VF.toDouble(col("embedding")))
        .head().getSeq[Double](0)
      VF.cosineTopKIvf(emb(s, dir), "embedding", "vec_id", q, 10, dim = 64)
    }),

    // PQ-ADC top-k (Jégou TPAMI'11): 8-byte codes scanned with a
    // per-subspace lookup table, C=192 approximate candidates, exact
    // cosine rerank. Data-sampled sub-centroids (the 16 lowest-id
    // vectors); recall@10 = 1.0 vs s01 at all three SFs (law-tested).
    // The memory-bound ANN scale path: see VectorFunctions.pqAdcTopK.
    "s08_pq_adc_topk" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
      val seeds = e.orderBy(col("vec_id")).limit(16)
        .select(col("v")).collect().map(_.getSeq[Double](0)).toSeq
      val q = e.filter(col("vec_id") === 0).select(col("v")).head().getSeq[Double](0)
      // embWide: the per-vector ADC kernel (m aggregate-folds per row)
      // is the cost, not the scan bytes — on the unspread single-split
      // read it ran 1.06 s CPU on ONE task (round-12 stage metrics);
      // the pinned spread is the documented opt-in for exactly this
      // shape. s08 carries no no-shuffle contract (that is s12/s13).
      VF.pqAdcTopK(embWide(s, dir), "embedding", "vec_id", q, seeds,
        k = 10, m = 16, candidates = 192)
    }),

    // hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    // SIGIR'09): the sparse arm is t13's full BM25 scorer, the dense arm
    // s01's cosine scan (query = vec 0; the harness corpus aligns
    // doc_id = vec_id), each truncated to its top-50 candidate list by
    // TakeOrderedAndProject — NO global sort of the corpus. Ranks are
    // then assigned inside the 50-row candidate frames (the unpartitioned
    // window is bounded by construction, so the single-task window is a
    // constant, not a scale hazard), RRF-fused with k=60 over the full
    // outer union of the two lists (a candidate missing from one arm
    // simply contributes nothing for it — standard RRF), and the fused
    // top-10 returned. Fusing RANKS rather than scores is the point:
    // BM25 and cosine live on incomparable scales, and ranks make the
    // fusion score an engine-independent rational number.
    "s09_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cand = 50
      val qTerms = Seq("dup", "merge", "window")
      val k1 = 1.2; val b = 0.75
      val d = docs(s, dir)
        .select(col("doc_id"), TF.tokens(col("text")).as("tks"))
        .withColumn("dl", size(col("tks")).cast(DoubleType))
      val statExprs =
        count(lit(1)).cast(DoubleType).as("n_docs") +:
        (sum(col("dl").cast(LongType)).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("avgdl") +:
        qTerms.zipWithIndex.map { case (term, i) =>
          sum(when(array_contains(col("tks"), term), 1L).otherwise(0L))
            .cast(DoubleType).as(s"df_$i")
        }
      val stats = d.agg(statExprs.head, statExprs.tail: _*)
      val comps = qTerms.zipWithIndex.map { case (term, i) =>
        val tf = size(filter(col("tks"), x => x === term)).cast(DoubleType)
        val idf = (col("n_docs") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5)
        idf * (tf * lit(2.2)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
      }
      val sparseTop = d.crossJoin(broadcast(stats))
        .select(col("doc_id").as("id"), comps.reduceLeft(_ + _).as("score"))
        .orderBy(col("score").desc, col("id")).limit(cand)
      val qv = emb(s, dir).filter(col("vec_id") === 0)
        .select(VF.toDouble(col("embedding"))).head().getSeq[Double](0)
      val denseTop = VF.cosineTopK(emb(s, dir), "embedding", "vec_id", qv, cand)
        .select(col("vec_id").as("id"), col("score"))
      val rankW = Window.orderBy(col("score").desc, col("id"))
      val sp = sparseTop.withColumn("rank_sparse", row_number().over(rankW))
        .select(col("id"), col("rank_sparse"))
      val dn = denseTop.withColumn("rank_dense", row_number().over(rankW))
        .select(col("id"), col("rank_dense"))
      sp.join(dn, Seq("id"), "full_outer")
        .select(col("id").as("doc_id"), col("rank_sparse"), col("rank_dense"),
          (coalesce(lit(1.0) / (lit(60) + col("rank_sparse")), lit(0.0)) +
           coalesce(lit(1.0) / (lit(60) + col("rank_dense")), lit(0.0)))
            .as("rrf_score"))
        .orderBy(col("rrf_score").desc, col("doc_id")).limit(10)
    }),

    // maximum-inner-product search (MIPS — recommendation/retrieval
    // scoring, where cosine's normalization is wrong) via the
    // norm-augmentation reduction [Bachrach et al. RecSys'14]: append
    // sqrt(M² − |x|²) to every data vector (M = max corpus norm) and 0
    // to the query, and augmented cosine = dot(x,q)/(M·|q|) — a constant
    // positive denominator, so ranking by augmented cosine IS ranking by
    // inner product, and any cosine-ANN index (s02 LSH / s03 IVF) serves
    // MIPS unchanged. The closed form is used directly; M is a 1-row
    // broadcast (max is order-independent), scoring is one pass, top-10
    // is a TakeOrderedAndProject. The ranking-equivalence law
    // (augmented-cosine order == direct dot order) is unit-tested.
    "s05_mips" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
      val mrow = e.agg(max(sqrt(VF.normSq(col("v")))).as("mnorm"))
      val q = e.filter(col("vec_id") === 1)
        .select(col("v").as("qv"), VF.normSq(col("v")).as("qnsq"))
      e.crossJoin(broadcast(mrow)).crossJoin(broadcast(q))
        .select(col("vec_id"), VF.dot(col("v"), col("qv")).as("ip"),
          col("mnorm"), col("qnsq"))
        .select(col("vec_id"), col("ip"),
          (col("ip") / (col("mnorm") * sqrt(col("qnsq")))).as("cos_aug"))
        .orderBy(col("cos_aug").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("ip"))
    }),

    // -- text analysis --------------------------------------------------

    "t01_token_count" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TF.tokenCount(col("text")).as("n_tokens"))),

    // BPE-ish pre-tokenizer count (subword-cost proxy for data budgeting)
    "t05_token_bpe" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TF.bpeTokenCount(col("text")).as("n_bpe"))),

    // per-source tokenizer FERTILITY — BPE tokens per whitespace word
    // and chars per BPE token, the standard tokenizer-health panel for
    // a multi-source corpus (a source whose fertility is far above the
    // fleet's burns context length and signals poor tokenizer coverage
    // — the number teams check before committing a vocab). Pure
    // per-row counts (t01's whitespace tokens, t05's BPE regex) folded
    // by source: integer sums, two guarded divides, exactly replayed.
    "t34_token_fertility" -> ((s, dir) =>
      docs(s, dir)
        .select(col("source"),
          length(col("text")).cast(LongType).as("nc"),
          TF.tokenCount(col("text")).cast(LongType).as("nw"),
          TF.bpeTokenCount(col("text")).cast(LongType).as("nb"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("n_words"),
          sum(col("nb")).as("n_bpe"),
          sum(col("nc")).as("n_chars"))
        .select(col("source"), col("n_docs"), col("n_words"), col("n_bpe"),
          when(col("n_words") > 0,
            col("n_bpe").cast(DoubleType) / col("n_words").cast(DoubleType))
            .otherwise(lit(0.0)).as("fertility"),
          when(col("n_bpe") > 0,
            col("n_chars").cast(DoubleType) / col("n_bpe").cast(DoubleType))
            .otherwise(lit(0.0)).as("chars_per_token"))),

    "t02_quality" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id") +: TF.qualityColumns(col("text")): _*)),

    // quality scoring applied as the filter it exists for: keep/drop
    // verdict per document from the t02 heuristics
    "t06_quality_filter" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TF.qualityKeep(col("text")).as("keep"))),

    "t03_lang_id" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TF.langId(col("text")).as("lang_pred"))),

    // signatures: md5 fingerprint (oracled in d01) + custom-expression
    // rolling hash / simhash (not SQL-expressible → rows-only check)
    "t04_signatures" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TF.fingerprint(col("text")).as("fp_md5"),
        Hashing.rollingHash(TF.tokens(col("text"))).as("rolling"),
        Hashing.simhash64(TF.tokens(col("text"))).as("simhash"))),

    // PII redaction over the corpus. The harness documents are synthetic
    // word-salad with zero PII-shaped spans, so a bare scrub would be a
    // vacuous no-op green; instead both engines deterministically INJECT
    // a synthetic email + phone per row (derived from doc_id) and the
    // oracle verifies the redaction actually fires on every row. The
    // patterns are RE2-safe so Spark (Java regex) and DuckDB (RE2) agree.
    "t07_pii_scrub" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("text_pii"))
        .select(col("doc_id"), TF.redactPii(col("text_pii")).as("clean"))),

    // the full PII stage a production corpus runs before dedup — t07's
    // redaction widened to DETECTION (per-doc match counts for all seven
    // pattern classes, boundary-guarded, octet-bounded, and checksum-
    // gated — Luhn for CARD, mod-97 for IBAN — so version strings /
    // ISBNs / number tables / check-digit-broken PANs / reference codes
    // don't inflate the datasheet) plus the seven-class scrub. Same
    // injection discipline as t07 (the corpus is word-salad with zero
    // PII-shaped spans, so both engines deterministically plant a
    // VARYING mix: one email always, a second email / phone / card
    // (valid AND check-digit-broken — the broken one must count 0 and
    // survive scrub raw) / IBAN (valid GB + letter-BBAN FR AND
    // mod-97-broken) / IPv4 / SSN-shaped ID / IPv6 on doc_id residue
    // classes — varying counts are what make the oracle non-vacuous).
    // Counts and scrub are codegen'd regex built-ins plus the CARD
    // class's Luhn-verified literal fold over the spread scan; the
    // whole stage is map-only at any scale.
    "t35_pii_audit" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          piiInject(col("text"), col("doc_id")).as("tp"))
        .select(col("doc_id") +:
          TF.piiClasses.map(c =>
            TF.piiCount(col("tp"), c).as(s"n_${c.label.toLowerCase}")) :+
          TF.scrubPii(col("tp")).as("clean"): _*)),

    // keyed pseudonymization — the scrub variant that PRESERVES linkage:
    // every email/phone is replaced by `<EMAIL:fnv64(key|value)>`, so
    // equal identifiers collapse to equal tags across documents (mod-10
    // docs share one planted address and keep a common tag; every
    // doc-specific address stays distinct) while the raw value needs the
    // key. Per-row literal fold over the match list in pinned
    // longest-first order (substring-related values fold container
    // first — see TF.pseudonymizeWith); FNV is the
    // engine-replayable hash the oracle regenerates byte-for-byte.
    "t36_pii_pseudonymize" -> ((s, dir) =>
      linkInjected(docs(s, dir))
        .select(col("doc_id"),
          TF.pseudonymizePii(col("tp"), piiKey).as("pseudo"))),

    // right-to-be-forgotten over the pseudonymized corpus — the GDPR
    // deletion path t36's keyed tags exist to serve: given one
    // identifier value (audit@example.net, the address every mod-10 doc
    // shares), its tag is a DRIVER-COMPUTED constant (TF.pseudoTag ==
    // fnv64(key|value), re-derived from scratch by the oracle), so
    // locating every linked document is a map-only `contains` predicate
    // on the scan — no join, no shuffle, nothing broadcast but one
    // literal — and the re-scrub is a literal replace to an unlinkable
    // placeholder. Every OTHER identifier's linkage tag survives
    // untouched (the t37 pipeline law pins that).
    "t37_rtbf_forget" -> ((s, dir) => {
      val target = "audit@example.net"
      linkInjected(docs(s, dir))
        .select(col("doc_id"),
          TF.pseudonymizePii(col("tp"), piiKey).as("pseudo"))
        .filter(TF.linksTo(col("pseudo"), "EMAIL", piiKey, target))
        .select(col("doc_id"),
          TF.forgetValue(col("pseudo"), "EMAIL", piiKey, target).as("pseudo"))
    }),

    // MAC-grade pseudonymization — same linkage semantics as t36, tags
    // from the nested digest sha256(key|sha256(key|value)) truncated to
    // 128 bits: the release-grade variant whose tags resist dictionary
    // attacks and hash-state recovery (the FNV tags' documented
    // weakness). Both engines compose the digests over lowercase hex
    // strings, so the oracle regenerates every tag byte-for-byte.
    "t38_pii_mac" -> ((s, dir) =>
      linkInjected(docs(s, dir))
        .select(col("doc_id"),
          TF.pseudonymizePiiMac(col("tp"), piiKey).as("pseudo"))),

    // right-to-be-forgotten over the MAC-pseudonymized corpus — t37's
    // deletion path lifted to the release-grade t38 variant: the
    // deletion target's nested-sha256 tag is a DRIVER-COMPUTED constant
    // (TF.pseudoTagMac, re-derived from scratch by the oracle), so the
    // linked-document scan is the same map-only `contains` predicate —
    // no join, no shuffle — and the re-scrub the same literal replace.
    // MAC tags keep deletion FINDABLE (any key holder derives the
    // value's tag) while a tag alone reveals nothing about other values.
    "t40_rtbf_mac_forget" -> ((s, dir) => {
      val target = "audit@example.net"
      linkInjected(docs(s, dir))
        .select(col("doc_id"),
          TF.pseudonymizePiiMac(col("tp"), piiKey).as("pseudo"))
        .filter(TF.linksToMac(col("pseudo"), "EMAIL", piiKey, target))
        .select(col("doc_id"),
          TF.forgetValueMac(col("pseudo"), "EMAIL", piiKey, target).as("pseudo"))
    }),

    // BATCH right-to-be-forgotten — the multi-request production form of
    // t37: deletion requests arrive as a (label, value) TABLE (three
    // here: the shared audit address, one doc-specific address, one
    // phone), tags are driver-computed by the same bit-exact twins, and
    // the corpus is scanned ONCE — a single ForgetTags kernel pass per
    // row (hash-set probe at each '<', cost independent of ledger size)
    // instead of one literal-replace pass per request. Output = the
    // linked documents with EVERY ledger tag erased; RtbfSpec pins the
    // law that this equals the sequential fold of single forgets in any
    // order, and Rtbf.applyLedgerToStore carries the same ledger onto a
    // batch-partitioned streaming store (only linked partitions
    // rewritten).
    "t41_rtbf_batch" -> ((s, dir) =>
      graft.operators.Rtbf.forgetAll(
        linkInjected(docs(s, dir)).select(col("doc_id"),
          TF.pseudonymizePii(col("tp"), piiKey).as("pseudo")),
        "pseudo", rtbfLedger(s), piiKey, mac = false)),

    // the MAC-family batch RTBF — t40's release-grade tags under the
    // same one-pass multi-request contract
    "t42_rtbf_batch_mac" -> ((s, dir) =>
      graft.operators.Rtbf.forgetAll(
        linkInjected(docs(s, dir)).select(col("doc_id"),
          TF.pseudonymizePiiMac(col("tp"), piiKey).as("pseudo")),
        "pseudo", rtbfLedger(s), piiKey, mac = true)),

    // the release-grade deletion CASCADE audit — the gap between "RTBF
    // over text" and "RTBF over a production release": a release also
    // carries columns and stores DERIVED from the text (fingerprints,
    // embeddings, ANN rows), and forgetting the text while shipping the
    // derivatives leaves both an inconsistency (a dedup pass still sees
    // the forgotten content's fingerprint) and a trace (the fingerprint
    // IS content-derived). One Rtbf.cascadeAudit pass: every ledger tag
    // erased, fp recomputed from the REWRITTEN text, and the embeddings
    // artifact purged of linked docs' rows — `n_vec` (rows remaining per
    // doc after the purge) must be 0 exactly on the linked set, and `fp`
    // always equals the recompute over the shipped text. Map-only over
    // the corpus + one anti-join and one count agg keyed on the doc id.
    "t43_rtbf_cascade" -> ((s, dir) =>
      graft.operators.Rtbf.cascadeAudit(
        linkInjected(docs(s, dir)).select(col("doc_id"),
          TF.pseudonymizePii(col("tp"), piiKey).as("pseudo")),
        "pseudo", rtbfLedger(s), piiKey, mac = false,
        derived = Seq("fp" -> TF.fingerprint(col("pseudo"))),
        artifact = emb(s, dir), artifactIdCol = "vec_id")),

    // encoding-damage (mojibake) audit — the curation signal the
    // quality heuristics cannot see (a mojibake'd page still has fine
    // length/punct/stopword ratios): per-doc counts of U+FFFD
    // replacement chars, C1 controls (the cp1252-as-latin-1
    // signature), and double-encoding digrams ("Ã©", "â€™"), plus the
    // keep flag. Counts are LITERAL codepoint-sequence folds (length
    // difference / marker length — exact integers, no Unicode
    // regex-class semantics to align across engines). The corpus is
    // clean ASCII, so both engines deterministically plant a VARYING
    // damage mix on doc_id residues (t35's discipline; varying counts
    // make the oracle non-vacuous). Map-only at any scale.
    "t44_mojibake" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), mojiInject(col("text"), col("doc_id")).as("tq"))
        .select(col("doc_id") +: TF.mojibakeColumns(col("tq")): _*)),

    // n-gram language-model fluency scoring — the CCNet/KenLM stage of a
    // training-data pipeline: a bigram LM is trained on the curated
    // reference slice (source 'src0', the same held-out convention as
    // t12's eval split) and every other document is scored by how well
    // its token transitions are explained by that LM. The body lives in
    // operators/LmFluency.score — ONE implementation shared with the
    // d26 verdict composition and CorpusPipeline's lmFluency stage, so
    // the composed pipeline cannot drift from this oracle-verified
    // query. Deliberately
    // log-free (t13/t32's reason: libm ln/exp are not bit-stable across
    // engines, so true perplexity = exp(−Σ ln p / n) can't sit in a
    // hash-checked contract): each transition's add-one smoothed INVERSE
    // probability (c(w1)+V)/(c(w1,w2)+1) is taken in truncating integer
    // division and summed — `ppx_proxy`, the mean inverse probability,
    // is perplexity's arithmetic-mean cousin (identical filter ordering
    // on the dominant term) — alongside exact LM-coverage counts: n_hit
    // (transition seen in the LM) and n_oov_ctx (context never seen).
    // Every per-doc number stays an integer until ONE final IEEE divide
    // (the t11 discipline), and the keep gate (≥ 3/4 of the transitions
    // LM-covered — sited at the harness corpus's coverage median so the
    // flag actually discriminates) is decided in cross-multiplied
    // integer form, never on a float. Distributed shape: both LM tables are reference-slice-
    // vocabulary-sized and BROADCAST, the one-row vocabulary size rides
    // a broadcast cross join (t26's n_docs pattern), so scoring is
    // map-side over the exploded transitions — the only exchanges are
    // the LM-build aggs (reference slice only) and the per-doc count
    // agg keyed by doc_id. Docs with < 2 tokens surface with zero
    // counts via the left spine join, not silently dropped by the
    // explode. At 100 TB: an LM trained on a curated reference corpus
    // stays broadcastable by construction; for an LM trained on the
    // full corpus, prune to the top-K n-grams first (the quantized
    // KenLM shape) to keep the broadcast, else the probe degrades to a
    // sort-merge join keyed by the gram.
    "t39_lm_fluency" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.operators.LmFluency.score(
        d.filter(col("source") === "src0").select(col("text")),
        d.filter(col("source") =!= "src0").select(col("doc_id"), col("text")))
    }),

    // rare-term extraction (keyword/quality signal): global document
    // frequency per term, joined back and reduced to each document's 3
    // rarest terms via the custom TopKPerKey physical operator (bounded
    // heaps, no per-doc sort) — the df table is vocabulary-sized, so the
    // join broadcasts. Ties break on (df, term), a total order per doc.
    "t08_rare_terms" -> ((s, dir) => {
      val tk = docs(s, dir).select(col("doc_id"),
        explode(array_distinct(TF.tokens(col("text")))).as("term"))
      val dfreq = tk.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val joined = tk.join(broadcast(dfreq), "term")
        .select(col("doc_id"), col("term"), col("df"))
      graft.operators.Relational.topKPerKey(
        joined, Seq("doc_id"), Seq(col("df").asc, col("term").asc), 3)
    }),

    // deterministic train/val/test split — the reproducibility-critical
    // sampling primitive of a training-data pipeline: bucket = integer
    // value of the first 8 md5 hex chars of the doc id, mod 100. ID-
    // stable (no RNG, no partition dependence), re-runnable anywhere, and
    // exactly reproducible in SQL. Note this is keyed on doc_id, so a
    // re-ingest under a new id re-rolls the bucket; the leakage-proof
    // CONTENT-stable form (hash of the text fingerprint) is what
    // CorpusPipeline's split stage uses.
    "t09_split_assign" -> ((s, dir) => {
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
      docs(s, dir).select(col("doc_id"), pmod(h, lit(100L)).as("bucket_100"))
        .withColumn("split",
          when(col("bucket_100") < 90, "train")
            .when(col("bucket_100") < 95, "val")
            .otherwise("test"))
    }),

    // exact stratified sampling: a deterministic 10% per source, taken as
    // the first ⌈0.1·n⌉ docs in md5-hash order within each stratum —
    // content-stable (re-runs and cluster layout can't change the
    // sample), exact per-stratum fraction (rate-based Bernoulli sampling
    // only approximates it), one shuffle on source.
    "t10_stratified_sample" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
      docs(s, dir).select(col("doc_id"), col("source")).withColumn("h", h)
        .withColumn("rn", row_number().over(
          w.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))))
        .withColumn("n_src", count(lit(1)).over(w.partitionBy(col("source"))))
        .filter(col("rn") <= ceil(col("n_src") * 0.1))
        .select(col("doc_id"), col("source"))
    }),

    // deterministic global training-order shuffle — the "shuffle the
    // corpus each epoch" primitive: order key = md5 of (doc_id, epoch
    // tag), position = dense 1..n rank in that order via the
    // DISTRIBUTED serial-id machinery (range partition on the key +
    // per-partition offsets — q28's shape), NOT a single-task global
    // window. Because the key is a uniform hash, the range partitioner's
    // sampled boundaries give near-equal partitions regardless of how
    // skewed the natural ids are, and a new epoch is just a new tag —
    // no RNG state, reproducible on any cluster layout.
    "t24_global_shuffle" -> ((s, dir) => {
      val h = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit(":epoch0"))), 1, 8), 16, 10).cast("long")
      val keyed = docs(s, dir).select(col("doc_id"), h.as("shuffle_key"))
      graft.operators.Relational.withSerialIdDistributed(
        keyed, Seq(col("shuffle_key"), col("doc_id")), "pos")
    }),

    // sliding-window chunking with overlap (the RAG / context-window
    // segmentation primitive): windows of 32 tokens at stride 16, so
    // consecutive chunks share half their tokens and no boundary
    // sentence is ever split across chunks without also appearing whole
    // in a neighbor. Pure per-row Generate + slice — fan-out is bounded
    // by doc length / stride, there is NO shuffle, and the chunk table
    // inherits the corpus partitioning (each doc's chunks stay on its
    // partition, ready for per-chunk embedding or indexing downstream).
    // Every doc emits ≥ 1 chunk (short and empty docs yield one short
    // or empty chunk) — a corpus row can never silently vanish.
    "t25_rag_chunk" -> ((s, dir) => {
      val W = 32; val S = 16
      docs(s, dir)
        .select(col("doc_id"), TF.tokens(col("text")).as("tks"))
        .select(col("doc_id"), col("tks"),
          explode(sequence(lit(0L),
            greatest(size(col("tks")).cast("long") - 1L, lit(0L)),
            lit(S.toLong))).as("start"))
        .select(col("doc_id"),
          expr(s"start div $S").as("chunk_idx"),
          col("start"),
          size(slice(col("tks"), (col("start") + 1L).cast("int"), lit(W)))
            .cast("long").as("n_tokens"),
          array_join(slice(col("tks"), (col("start") + 1L).cast("int"), lit(W)), " ")
            .as("chunk_text"))
    }),

    // TF-IDF keyword extraction — each document's top-3 terms by
    // tf · (N+1)/(df+1), the tf-WEIGHTED complement of t08's rarest-term
    // pick (t08 ignores within-doc frequency; here a term repeated in
    // one doc but common nowhere else wins). The idf is the log-free
    // rational form for the same reason as t13's BM25: ln is not
    // correctly-rounded across libms, and (N+1)/(df+1) is the same
    // monotone signal in one IEEE divide. Distributed shape: tf is one
    // map-side-combined agg keyed by (doc, term); the df table is
    // vocabulary-sized so the join BROADCASTS; N is a broadcast one-row
    // frame; the per-doc top-3 is the custom TopKPerKey operator
    // (bounded heaps, no per-doc sort).
    "t26_tfidf_keywords" -> ((s, dir) => {
      val tk = docs(s, dir).select(col("doc_id"),
        explode(TF.tokens(col("text"))).as("term"))
      val tf = tk.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).cast(DoubleType).as("tf"))
      // r17: document frequency DERIVED from tf — tf already has exactly
      // one row per (doc_id, term), so counting its rows per term IS
      // countDistinct(doc_id). The previous tk.distinct() re-ran the
      // full token-stream explode into a second corpus-wide exchange;
      // this shape reuses tf's exchange and shuffles only per-doc terms.
      val dfreq = tf
        .groupBy(col("term")).agg(count(lit(1)).cast(DoubleType).as("df"))
      val nDocs = docs(s, dir).agg(count(lit(1)).cast(DoubleType).as("n_docs"))
      val scored = tf.join(broadcast(dfreq), "term")
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("term"),
          (col("tf") * ((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))))
            .as("tfidf"))
      graft.operators.Relational.topKPerKey(
        scored, Seq("doc_id"), Seq(col("tfidf").desc, col("term").asc), 3)
    }),

    // model-based quality filtering — linear classifier INFERENCE over
    // t21's hashed bag-of-words features (the fastText-style quality
    // gate every pretraining corpus passes through). Weights are a
    // deterministic function of the feature bucket (a second FNV draw
    // mapped to the rational grid [-1024, 1023]/1024), so the whole
    // scorer — features, weights, dot product — is engine-replayable
    // with integer arithmetic and ONE final division. The bucketed dot
    // Σ_b v_b·w_b collapses algebraically to Σ_tokens sign(t)·w(bucket(t)),
    // so the plan is a single map-side-combined groupBy(doc_id) over a
    // codegen'd per-token projection: no feature-vector materialization,
    // no weight-table join (weights broadcast as expressions), one
    // shuffle keyed by doc_id. `keep` thresholds the raw score —
    // sigmoid is monotone, so the 0-threshold on the logit IS the
    // 0.5-threshold on the probability without a libm exp in the hash
    // gate. Empty docs score 0 and are dropped, not lost.
    "t27_quality_classifier" -> ((s, dir) => {
      val dim = 32L
      val h = Hashing.fnvChecksum(col("term").cast(BinaryType))
      val sign = shiftrightunsigned(h, 5).bitwiseAND(lit(1L)) * 2L - 1L
      val bucket = pmod(h, lit(dim))
      val w = pmod(shiftrightunsigned(
        Hashing.fnvChecksum(bucket.cast(StringType).cast(BinaryType)), 7),
        lit(2048L)) - 1024L
      val st = docs(s, dir)
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(sign * w).as("num"))
      docs(s, dir).select(col("doc_id")).join(st, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("num").cast(DoubleType)
            / (col("n_tokens") * 1024L).cast(DoubleType), lit(0.0)).as("score"))
        .withColumn("keep", col("score") > 0.0)
    }),

    // corpus DATASHEET — the per-source release report every corpus
    // ships with (datasheets-for-datasets shape): document and token
    // counts, exact duplicate ratio (distinct fingerprints vs docs),
    // dominant language and its share. Pure composition of the tier's
    // primitives (t01 token count, d01 fingerprint, t03's lang column)
    // reduced to |sources| rows: two source-keyed aggregations + a
    // per-source mode window over the tiny (source, lang) count table +
    // one broadcast-scale join — nothing in the plan scales with corpus
    // size except the two map-side-combined scans.
    "t28_corpus_datasheet" -> ((s, dir) => {
      val base = docs(s, dir).select(col("source"), col("lang"),
        TF.tokenCount(col("text")).cast(LongType).as("ntk"),
        TF.fingerprint(col("text")).as("fp"))
      val agg = base.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("ntk")).as("n_tokens"),
        countDistinct(col("fp")).as("n_distinct"))
      val lc = base.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("c").desc, col("lang"))
      val top = lc.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("source"), col("lang").as("top_lang"),
          col("c").as("top_lang_docs"))
      agg.join(top, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (lit(1.0) - col("n_distinct").cast(DoubleType)
            / col("n_docs").cast(DoubleType)).as("dup_ratio"),
          col("top_lang"),
          (col("top_lang_docs").cast(DoubleType)
            / col("n_docs").cast(DoubleType)).as("top_lang_share"))
    }),

    // Unicode/text normalization — the cleaning pass that runs BEFORE
    // any dedup or hashing at corpus scale (the same visible text can
    // arrive NFD-decomposed, control-char-littered, or
    // whitespace-mangled depending on the producer, and every byte-level
    // fingerprint downstream would split on those variants). The corpus
    // is deterministically dirtied (decomposed combining accents on
    // doc_id≡0 mod 3, BEL control bytes on ≡0 mod 5, doubled spaces on
    // ≡0 mod 7), then cleaned: NFC canonical composition (the custom
    // codegen'd [[graft.functions.NfcNormalize]] — Spark has no
    // built-in; both engines implement UAX #15 so the composition is
    // engine-exact), control-char strip, single-space collapse, trim.
    // Pure per-row projection — no shuffle, whole-stage codegen; at
    // 100 TB this is a map-only pass fused into the ingest scan.
    "t29_normalize" -> ((s, dir) => {
      // decomposed "a" + U+0301 COMBINING ACUTE: NFC composes it to U+00E1
      val d0 = when(col("doc_id") % 3 === 0,
        regexp_replace(col("text"), "a", "a\u0301")).otherwise(col("text"))
      val d1 = when(col("doc_id") % 5 === 0,
        concat(lit("\u0007"), d0, lit("\u0007"))).otherwise(d0)
      val dirty = when(col("doc_id") % 7 === 0,
        regexp_replace(d1, " ", "  ")).otherwise(d1)
      docs(s, dir)
        .select(col("doc_id"), dirty.as("dirty"))
        .select(col("doc_id"), col("dirty"),
          cleanText(col("dirty")).as("clean"))
        .select(col("doc_id"), col("clean"),
          length(col("dirty")).as("n_chars_dirty"),
          length(col("clean")).as("n_chars_clean"),
          (col("dirty") =!= col("clean")).as("changed"))
    }),

    // vocabulary-growth curve (the empirical Heaps'-law points) over
    // 3-GRAM types (the unigram vocabulary of this corpus saturates in
    // the first cohort — 31 types — so grams are where growth lives):
    // the corpus in ten id-range cohorts (ingest order — doc_ids are
    // dense), per cohort the gram volume and the number of
    // NEVER-SEEN-BEFORE gram types, both cumulative — the curve a
    // data-mixing team reads to judge whether more of a source still
    // buys novelty. The distributed shape: first-occurrence = one min
    // aggregate per type (map-side combined — no gram ever carries its
    // postings), cohort volumes one count aggregate — the gram stream
    // is deliberately re-derived for each (two map-only scans beat
    // pinning an exploded table larger than the corpus for a one-shot
    // query; see PLANS.md) — and the cumulative
    // sums ride a 10-row bounded window (cohort count is a constant,
    // not a function of corpus size). No fitted exponent on purpose:
    // pow/log are libm-dependent; the curve POINTS are exact integers.
    "t30_vocab_growth" -> ((s, dir) => {
      val nd = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      val grams = docs(s, dir)
        .select(col("doc_id"), explode(TF.shingles(col("text"))).as("gram"))
        .crossJoin(broadcast(nd))
        .select(floor(col("doc_id") * 10 / col("n_docs")).cast(IntegerType)
          .as("decile"), col("gram"))
      val newTypes = grams.groupBy(col("gram"))
        .agg(min(col("decile")).as("first_decile"))
        .groupBy(col("first_decile").as("decile"))
        .agg(count(lit(1)).as("new_types"))
      val volume = grams.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_grams"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
      volume.join(newTypes, Seq("decile"), "left")
        .select(col("decile"), col("n_grams"),
          coalesce(col("new_types"), lit(0L)).as("new_types"))
        .select(col("decile"), col("n_grams"),
          sum(col("n_grams")).over(w).as("cum_grams"),
          col("new_types"),
          sum(col("new_types")).over(w).as("cum_vocab"))
    }),

    // per-source token-budget capping (domain balancing): no single
    // source may contribute more than 3% of the corpus's tokens — the
    // C4/RefinedWeb-style representation cap that stops one crawl domain
    // from dominating the training mix. Within a source, docs fill the
    // budget in (n_tokens DESC, doc_id) priority order via a per-source
    // cumulative sum; a doc is kept iff its inclusive cumsum fits the
    // cap. Output is the per-source audit row (docs/tokens before vs
    // after) a mix designer reads. Scale: the window is PARTITIONED by
    // source — per-domain sequential scan, parallel across domains; a
    // pathological mega-domain would swap in the distributed prefix sum
    // (Relational.withRunningTotal, t18's machinery) keyed within that
    // domain. One shuffle by source, one scalar broadcast for the
    // corpus total; no per-row state leaves the source partitioning.
    "t31_source_caps" -> ((s, dir) => {
      val toks = docs(s, dir).select(col("doc_id"), col("source"),
        TF.tokenCount(col("text")).cast(LongType).as("n_tokens"))
      val total = toks.agg(sum(col("n_tokens")).as("corpus_tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("n_tokens").desc, col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      toks.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .crossJoin(broadcast(total))
        .withColumn("kept",
          col("cum_tokens") <= floor(col("corpus_tokens") * 0.03).cast(LongType))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(col("n_tokens")).as("tokens_total"),
          sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("tokens_kept"))
    }),

    // per-source lexical diversity — the corpus-health panel a mix
    // designer reads next to t28's datasheet: token volume, exact type
    // count, type-token ratio, and the Simpson index (the probability
    // two tokens drawn without replacement are the SAME type — the
    // collision mass a templated/boilerplate source shows long before
    // eye-balling samples does). Deliberately log-free: Shannon entropy
    // would need libm `ln` whose last-bit behavior differs across
    // engines, while Simpson is Σc(c−1)/(N(N−1)) — integer moments and
    // ONE IEEE divide, so the hash-checked contract replays exactly.
    // Shape: explode → (source, term) counts (map-side combined) → one
    // per-source fold; text itself never shuffles, state is vocabulary-
    // sized per source, and both exchanges are keyed by source/term —
    // the same two-shuffle skeleton as t11 at any corpus scale. The
    // two c·(c−1) / N·(N−1) products run in decimal(38,0) lanes — a
    // source near ~3e9 tokens would wrap them as longs, and long
    // arithmetic is only loud about it under ANSI mode, a SESSION
    // default a consumer can switch off; the decimal lanes make the
    // moments exact (and overflow impossible below 10^19 tokens)
    // regardless of session conf. The output doubles are unchanged:
    // at any double-representable magnitude the decimal→double cast
    // rounds identically to the long→double cast the oracle replays.
    "t32_lexical_diversity" -> ((s, dir) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val c = docs(s, dir)
        .select(col("source"), explode(TF.tokens(col("text"))).as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
      c.groupBy(col("source")).agg(
          sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(col("c").cast(d38) * (col("c") - 1)).as("coll"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          (col("n_types").cast(DoubleType) / col("n_tokens")).as("ttr"),
          (col("coll").cast(DoubleType) /
            (col("n_tokens").cast(d38) * (col("n_tokens") - 1)).cast(DoubleType))
            .as("simpson"))
    }),

    // per-source boilerplate/template detection (the RefinedWeb/C4
    // boilerplate-removal shape): each source's most document-frequent
    // 3-gram is its TEMPLATE candidate, and the report says how much of
    // the source carries it — a navigation bar or licence banner shows
    // up as flag_rate ≈ 1 long before anyone reads samples. Shingles
    // are DISTINCT per doc (TF.shingles), so df counts documents, not
    // occurrences. The argmax is ONE window over the (source, gram)
    // df table — per-source vocabulary-sized partitions, parallel
    // across sources (t28's top_lang pattern); the flag probe is a
    // broadcast semi-join of the per-source one-row template list, so
    // text never shuffles. Ties break lexicographically (df DESC, gram
    // ASC) — deterministic and replayed verbatim.
    "t33_boilerplate" -> ((s, dir) => {
      val sh = docs(s, dir).select(col("doc_id"), col("source"),
        explode(TF.shingles(col("text"))).as("gram"))
      val dfreq = sh.groupBy(col("source"), col("gram"))
        .agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("df").desc, col("gram"))
      val top = dfreq.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("source"), col("gram"), col("df"))
      // second pass (r18): flag docs by a per-row membership probe
      // instead of re-exploding the corpus shingle stream into a
      // semi-join + distinct — `top` is ONE gram per source (bounded,
      // broadcast), so "doc is flagged" ⟺ its shingle set contains its
      // source's template gram, computable as array_contains on the
      // doc's own row. Drops the corpus-scale explode fan-out AND the
      // (source, doc_id) distinct exchange from the flag pass (the scan
      // itself is unavoidable: flagging needs every doc's verdict). The
      // contains() prescan is a pure byte gate (PiiGate posture): the
      // whitespace tokenizer emits substrings of lower(text), so a doc
      // can only carry the gram if the gram's first token occurs in
      // lower(text) — docs failing it skip tokenize+shingle entirely.
      // Value identity vs the explode+semi-join+distinct shape is
      // law-pinned in NorthStarQuerySpec and by the unchanged oracle.
      val flagged = docs(s, dir)
        .join(broadcast(top.select(col("source"), col("gram"))), Seq("source"))
        .filter(contains(lower(col("text")), substring_index(col("gram"), " ", 1)) &&
          array_contains(TF.shingles(col("text")), col("gram")))
        .groupBy(col("source")).agg(count(lit(1)).as("n_flagged"))
      docs(s, dir).groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(top, Seq("source"))
        .join(flagged, Seq("source"), "left")
        .select(col("source"), col("gram").as("template_gram"),
          col("df").as("template_df"), col("n_docs"),
          coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
          (coalesce(col("n_flagged"), lit(0L)).cast(DoubleType) / col("n_docs"))
            .as("flag_rate"))
    }),

    // systematic probability-proportional-to-size sampling by token
    // mass — the weighted complement of t10's per-stratum fraction: one
    // selection per crossing of a W/k boundary in cumulative-weight
    // space, so heavy documents are proportionally more likely, the
    // sample is deterministic (no RNG), and the selection predicate is
    // pure integer arithmetic (floor-crossing via integer div — exactly
    // SQL-replayable). The cumulative weight comes from the DISTRIBUTED
    // exact prefix sum (Relational.withRunningTotal: range-partitioned
    // parallel cumsum + a partition-count-sized offset fold), not an
    // unpartitioned window.
    "t18_weighted_sample" -> ((s, dir) => {
      val k = 50L
      val cw = graft.operators.Relational.withRunningTotal(
        docs(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", "cw")
      val tot = cw.agg(max(col("cw")).as("tw"))
      cw.crossJoin(broadcast(tot))
        .filter(expr(s"(cw * $k) div tw > ((cw - n_chars) * $k) div tw"))
        .select(col("doc_id"), col("n_chars"))
    }),

    // feature hashing (the hashing trick) — bag-of-words → fixed 32-dim
    // signed-count vectors, the featurization step feeding linear
    // quality classifiers at corpus scale: no vocabulary table, no
    // fitting, dimension fixed a priori. bucket = FNV(token) mod 32 and
    // the debiasing sign = bit 5 of the hash — both residues of 2^64
    // divisors, so signed arithmetic equals the unsigned definition and
    // the oracle replays it in HUGEINT. Counts are exact ints; the
    // vector serializes canonically like e02's q8.
    "t21_feature_hash" -> ((s, dir) => {
      val dim = 32
      val h = Hashing.fnvChecksum(col("term").cast(BinaryType))
      val cells = docs(s, dir)
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
        .select(col("doc_id"), pmod(h, lit(dim.toLong)).as("bucket"),
          (shiftrightunsigned(h, 5).bitwiseAND(lit(1L)) * 2 - 1).as("sign"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(sum(col("sign")).as("v"))
      cells.groupBy(col("doc_id"))
        .agg(map_from_entries(collect_list(struct(col("bucket"), col("v")))).as("m"))
        .select(col("doc_id"),
          array_join(transform(sequence(lit(0L), lit(dim - 1L)),
            b => coalesce(element_at(col("m"), b), lit(0L)).cast("string")), ",")
            .as("features"))
    }),

    // sequence packing — the "make training batches" step: concatenate
    // the corpus in doc_id order and cut every C tokens (the standard
    // concat-then-chunk packing of GPT-style pretraining). Each doc's
    // global token offset comes from the DISTRIBUTED exact prefix sum
    // (Relational.withRunningTotal), and the doc emits one row per
    // context window it overlaps — pure integer arithmetic
    // (div/min/max), so the packing manifest is deterministic under any
    // partitioning and exactly SQL-replayable. Output: which token span
    // of which doc lands in which window — the manifest a tokenizer
    // worker consumes to materialize training sequences.
    "t20_pack_sequences" -> ((s, dir) => {
      val C = 512L
      val toks = docs(s, dir)
        .select(col("doc_id"), TF.tokenCount(col("text")).cast(LongType).as("ntk"))
        .filter(col("ntk") > 0)
      val off = graft.operators.Relational
        .withRunningTotal(toks, "doc_id", "ntk", "cum")
        .select(col("doc_id"), col("ntk"), (col("cum") - col("ntk")).as("off"))
      off
        .select(col("doc_id"), col("ntk"), col("off"),
          explode(sequence(expr(s"off div $C"),
            expr(s"(off + ntk - 1) div $C"))).as("window_id"))
        .select(col("doc_id"), col("window_id"),
          greatest(lit(0L), col("window_id") * C - col("off")).as("start_tok"),
          (least(col("ntk"), (col("window_id") + 1) * C - col("off")) -
            greatest(lit(0L), col("window_id") * C - col("off"))).as("n_toks"))
    }),

    // within-document repetition signals (Gopher/C4-style quality rules):
    // duplicate-token fraction and top-term fraction per document. The
    // per-row mode can't be a per-row expression without O(n²) work, so
    // this is the distributed shape: explode → (doc_id, term) counts
    // (map-side combined) → per-doc moments — two shuffles whose keys
    // both contain doc_id, text never moves. Empty docs surface as 0.0
    // via the left join, not silently dropped by the explode.
    "t11_repetition" -> ((s, dir) => {
      val d = docs(s, dir)
      val c = d.select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      val st = c.groupBy(col("doc_id")).agg(
        sum(col("c")).as("n"), count(lit(1)).as("nd"), max(col("c")).as("mx"))
      d.select(col("doc_id")).join(st, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce((col("n") - col("nd")).cast(DoubleType) / col("n"), lit(0.0))
            .as("dup_token_ratio"),
          coalesce(col("mx").cast(DoubleType) / col("n"), lit(0.0))
            .as("top_term_ratio"))
    }),

    // benchmark decontamination (the GPT-3-style n-gram overlap check):
    // the held-out eval set (source 'src0' stands in for a benchmark
    // suite) is reduced to its distinct 5-gram shingle hashes and
    // BROADCAST — eval suites are KB-to-MB-scale metadata next to a
    // 100 TB corpus, so the corpus side takes a broadcast left-semi probe
    // and never shuffles for the membership test; the only exchanges are
    // the per-doc counts, both keyed by doc_id (co-partitioned, reused).
    // 5-grams (not 3) keep the random-collision floor near zero so a
    // nonzero overlap is a real contamination signal.
    "t12_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      val sh = d.select(col("doc_id"), col("source"),
        explode(Hashing.shingleHashSet(TF.tokens(col("text")), 5)).as("s"))
      val evalSet = sh.filter(col("source") === "src0").select(col("s")).distinct()
      val corpus = sh.filter(col("source") =!= "src0")
      val shared = corpus.join(broadcast(evalSet), Seq("s"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
        .join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
    }),

    // BM25 ranked retrieval — the search primitive behind
    // retrieval-based decontamination and quality mining over a corpus.
    // Distributed shape: one row of corpus statistics (N, avgdl, per-term
    // df) is aggregated and BROADCAST; scoring is then a pure per-row map
    // over the documents (no shuffle), and the top-10 is a
    // TakeOrderedAndProject. Per-term scores add in the fixed query-term
    // order, and the idf is the log-free rational variant
    // (N − df + ½)/(df + ½) — same ranking signal, but every arithmetic
    // step is a single IEEE op both engines execute identically (ln is
    // not guaranteed correctly-rounded across libms, so it stays out of
    // the hash-checked contract). k1 = 1.2, b = 0.75.
    "t13_bm25_search" -> ((s, dir) => {
      val qTerms = Seq("dup", "merge", "window")
      val k1 = 1.2; val b = 0.75
      val d = docs(s, dir)
        .select(col("doc_id"), TF.tokens(col("text")).as("tks"))
        .withColumn("dl", size(col("tks")).cast(DoubleType))
      val statExprs =
        count(lit(1)).cast(DoubleType).as("n_docs") +:
        (sum(col("dl").cast(LongType)).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("avgdl") +:
        qTerms.zipWithIndex.map { case (term, i) =>
          sum(when(array_contains(col("tks"), term), 1L).otherwise(0L))
            .cast(DoubleType).as(s"df_$i")
        }
      val stats = d.agg(statExprs.head, statExprs.tail: _*)
      val comps = qTerms.zipWithIndex.map { case (term, i) =>
        val tf = size(filter(col("tks"), x => x === term)).cast(DoubleType)
        val idf = (col("n_docs") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5)
        // literal 2.2 (not k1 + 1.0): both engines parse the same decimal
        // literal to the same double; the runtime sum could round once more
        idf * (tf * lit(2.2)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
      }
      d.crossJoin(broadcast(stats))
        .select(col("doc_id"), comps.reduceLeft(_ + _).as("score"))
        .filter(col("score") > 0.0)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    }),

    // one BPE-style merge iteration — the corpus-wide step of tokenizer
    // training: count every adjacent token pair and take the top-20 merge
    // candidates. explode keeps the fan-out inside the scan task; the
    // only shuffle carries (pair, partial count) after map-side combine,
    // and the top-20 is a TakeOrderedAndProject (no global sort).
    "t14_bpe_merge" -> ((s, dir) =>
      docs(s, dir)
        .select(TF.tokens(col("text")).as("tks"))
        .filter(size(col("tks")) >= 2)
        .select(explode(transform(sequence(lit(0), size(col("tks")) - 2),
          i => concat(element_at(col("tks"), i + 1), lit(" "),
                      element_at(col("tks"), i + 2)))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)),

    // bigram language-model estimation — the count side of KN/MLE LM
    // training over a corpus: P(w2|w1) = c(w1 w2) / c(w1 ·), where the
    // denominator is the context's total CONTINUATION count (sum of its
    // bigram counts — a doc's last token is no one's context). Counts
    // are exact integers; the conditional is one exact-int division per
    // row, so the probabilities hash-match cross-engine. Bigram fan-out
    // stays in the scan task; the context totals are vocabulary-sized
    // and broadcast back. Top-30 by raw count (TakeOrdered).
    "t17_bigram_lm" -> ((s, dir) => {
      val pairs = docs(s, dir)
        .select(TF.tokens(col("text")).as("tks"))
        .filter(size(col("tks")) >= 2)
        .select(explode(transform(sequence(lit(0), size(col("tks")) - 2),
          i => struct(element_at(col("tks"), i + 1).as("w1"),
                      element_at(col("tks"), i + 2).as("w2")))).as("p"))
        .select(col("p.w1"), col("p.w2"))
      val c2 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      c2.join(broadcast(c1), Seq("w1"))
        .select(col("w1"), col("w2"), col("c2"),
          (col("c2").cast(DoubleType) / col("c1").cast(DoubleType)).as("p_cond"))
        .orderBy(col("c2").desc, col("w1"), col("w2"))
        .limit(30)
    }),

    // model-based document scoring — the distributed shape of
    // classifier/LM quality filtering at corpus scale: a model small
    // enough to broadcast (here t17's bigram table, vocabulary²-bounded)
    // scores every document in a single pass, no shuffle of text. The
    // score is the mean conditional probability of the doc's bigrams —
    // a fluency/typicality signal; probabilities are exact-integer
    // ratios and the per-doc mean folds them in position order (sorted
    // fold, e04's determinism pattern), so scores hash-match
    // cross-engine without any log/exp.
    "t19_lm_score" -> ((s, dir) => {
      val pairs = docs(s, dir)
        .select(col("doc_id"), TF.tokens(col("text")).as("tks"))
        .select(col("doc_id"), size(col("tks")).as("ntk"),
          posexplode(when(size(col("tks")) >= 2,
              transform(sequence(lit(0), size(col("tks")) - 2),
                i => struct(element_at(col("tks"), i + 1).as("w1"),
                            element_at(col("tks"), i + 2).as("w2"))))
            .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
            .as(Seq("pos", "p")))
        .select(col("doc_id"), col("pos"), col("p.w1"), col("p.w2"))
      val c2 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      val model = c2.join(c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1")), Seq("w1"))
        .select(col("w1"), col("w2"),
          (col("c2").cast(DoubleType) / col("c1").cast(DoubleType)).as("p_cond"))
      val scored = pairs.join(broadcast(model), Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pairs"),
          (aggregate(
            transform(array_sort(collect_list(struct(col("pos"), col("p_cond")))),
              x => x.getField("p_cond")),
            lit(0.0), (a, x) => a + x) / count(lit(1))).as("lm_score"))
      docs(s, dir).select(col("doc_id")).join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("lm_score"), lit(0.0)).as("lm_score"))
    }),

    // data-mixing weights — temperature-based source sampling (the
    // multi-corpus mixing step of a training-data pipeline): per-source
    // token mass, α = 0.5 temperature (w ∝ n_tokens^α), normalized over
    // the source set. Sources are bounded metadata, so the normalizer is
    // a sorted fold over a handful of per-source weights (order-pinned —
    // deterministic float sum) broadcast back to the per-source rows.
    // sqrt is IEEE-correctly-rounded, so x^0.5 is engine-stable where a
    // general pow/ln would not be.
    "t15_mix_weights" -> ((s, dir) => {
      val per = docs(s, dir)
        .select(col("source"), TF.tokenCount(col("text")).cast(LongType).as("nt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
        .withColumn("w_raw", sqrt(col("n_tokens").cast(DoubleType)))
      val denom = per.agg(
        aggregate(
          transform(array_sort(collect_list(struct(col("source"), col("w_raw")))),
            x => x.getField("w_raw")),
          lit(0.0), (a, x) => a + x).as("denom"))
      per.crossJoin(broadcast(denom))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (col("w_raw") / col("denom")).as("weight"))
    }),

    // positional phrase search ("fast merge") over an inverted positional
    // index: each query term's postings are filtered BEFORE any shuffle
    // (term-selective — the classic posting-list win), then consecutive
    // positions align via an equi-join on (doc_id, position). Per-doc
    // occurrence counts come out of the same doc_id partitioning.
    "t16_phrase_search" -> ((s, dir) => {
      val (w1, w2) = ("fast", "merge")
      val pos = docs(s, dir)
        .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("p", "term")))
      val firsts = pos.filter(col("term") === w1).select(col("doc_id"), col("p"))
      val seconds = pos.filter(col("term") === w2)
        .select(col("doc_id"), (col("p") - 1).as("p"))
      firsts.join(seconds, Seq("doc_id", "p"), "inner")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matches"))
    }),

    // one distributed Lloyd (k-means) iteration over the embedding corpus:
    // assign every vector to its argmax-dot centroid (e03's quantizer),
    // then recompute per-cluster means. Output is (centroid_id, dim) rows
    // — scalar columns, and the natural 100 TB layout (the update is a
    // groupBy on (cluster, dimension) with map-side combine; k·dim result
    // rows regardless of corpus size). The per-cell sum folds the member
    // values in vec_id order (sorted collect per cell, bounded by cluster
    // size), pinning float addition order so both engines produce
    // bit-identical means — the deterministic-reduction contract a
    // reproducible training pipeline needs anyway.
    "e04_kmeans_step" -> ((s, dir) => {
      val dim = 64; val nC = 16
      val e = emb(s, dir).select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
      val withDots = e.select(col("vec_id"), col("v"),
        array((0 until nC).map(c => VF.dot(col("v"), lit(VF.centroid(c, dim)))): _*).as("dots"))
      val assigned = withDots.select(col("vec_id"), col("v"),
        array_position(col("dots"), array_max(col("dots"))).cast("int").as("cid"))
      assigned
        .select(col("cid"), col("vec_id"), posexplode(col("v")).as(Seq("dim", "val")))
        .groupBy(col("cid"), col("dim"))
        .agg(count(lit(1)).as("n_members"),
          aggregate(
            transform(array_sort(collect_list(struct(col("vec_id"), col("val")))),
              x => x.getField("val")),
            lit(0.0), (a, x) => a + x).as("sum_val"))
        .select(col("cid").as("centroid_id"), col("dim"), col("n_members"),
          (col("sum_val") / col("n_members")).as("mean_val"))
    }),

    // product quantization (PQ) codes — the compressed representation
    // behind IVF-PQ ANN indexes: the 64-dim vector splits into 8
    // subvectors, each assigned (min-L2, first-min-wins) to one of 16
    // deterministic sub-centroids → an 8-byte code replacing 256 bytes of
    // float64. Pure per-row map over broadcast-literal codebooks — no
    // shuffle, and the per-cell squared-distance folds are order-pinned
    // left-to-right so both engines agree bit-exactly.
    "e05_pq_code" -> ((s, dir) => {
      val m = 8; val dsub = 8; val ksub = 16
      val e = emb(s, dir).select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
      val codes = (0 until m).map { mi =>
        val sub = slice(col("v"), mi * dsub + 1, dsub)
        val dists = array((0 until ksub).map { c =>
          aggregate(
            zip_with(sub, lit(VF.centroid(1000 + mi * ksub + c, dsub)),
              (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, x) => a + x)
        }: _*)
        (array_position(dists, array_min(dists)) - 1).cast("int")
      }
      e.select(col("vec_id"),
        concat_ws(",", codes.map(_.cast("string")): _*).as("pq_code"))
    }),

    // k-NN JOIN: top-3 cosine neighbors for EVERY vector (the batch ANN
    // workload behind corpus-wide near-dup mining and hard-negative
    // mining), not s01's single-query top-k. Exact scan via e01's block
    // partitioning — every unordered vector pair lands in exactly one
    // unordered block pair, the scoring join is an ordinary equi-join on
    // (bi, bj), no cartesian — then both orientations of each scored pair
    // feed the custom TopKPerKey operator (bounded per-key heaps, no
    // partition sort). Scores are computed once per unordered pair; dot
    // products and norm products commute bit-exactly, so the pair's score
    // is identical from either side's perspective.
    "s04_knn_join" -> ((s, dir) => {
      val B = 8
      val e = emb(s, dir)
        .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(VF.normSq(col("v"))))
        .withColumn("blk", pmod(col("vec_id"), lit(B)).cast("int"))
      val scored = blockPairJoin(s, e, B, Seq("v", "nrm"))
        .select(col("id_l"), col("id_r"),
          (VF.dot(col("v_l"), col("v_r")) / (col("nrm_l") * col("nrm_r"))).as("score"))
      // both orientations from the SAME pass: a union of two selects would
      // re-execute the whole block-pair scoring join (no implicit reuse
      // without a cache); the explode fans each scored pair to its two
      // oriented rows inside the scoring task
      val oriented = scored
        .select(explode(array(
          struct(col("id_l").as("vec_id"), col("id_r").as("neighbor_id"), col("score")),
          struct(col("id_r").as("vec_id"), col("id_l").as("neighbor_id"), col("score"))))
          .as("e"))
        .select(col("e.vec_id"), col("e.neighbor_id"), col("e.score"))
      graft.operators.Relational.topKPerKey(oriented, Seq("vec_id"),
        Seq(col("score").desc, col("neighbor_id").asc), 3)
        .select(col("vec_id"), col("neighbor_id"), col("score"))
    }),

    // ANN k-NN JOIN — the production-scale form of s04: a 512-bit
    // hyperplane sign-sketch coarse pass (BitSignature; E[hamming]/bits
    // estimates angle/π) ranks every pair with 8 xor+popcounts on
    // 64-byte rows instead of 64 double multiply-adds on 512-byte
    // vectors, per-query hamming top-96 candidates come off TopKPerKey
    // heaps, and only those n·96 pairs are exactly rescored — s04's
    // full exact scan does n²/2. The sketch table is memoized/persisted
    // (sigTable): signatures are computed once, not once per join
    // branch — the index a production corpus materializes next to the
    // embeddings. Measured on this corpus's similarity profile
    // (isotropic, top-3 at cos ≈ 0.38): recall vs s04's exact top-3 =
    // 0.999 at sf0.01 and 0.983 at sf0.1. Banding/IVF-cell candidates
    // were measured first and rejected: on isotropic embeddings every
    // space-partitioning scheme's recall tracks its candidate fraction
    // (no pruning power at cos 0.38 — 16-cell 8-probe IVF: 0.95 recall
    // at 0.94 of all pairs), while the sketch ranking exploits the
    // per-pair angle estimate instead. The coarse pass still touches
    // all block pairs, but at 1/8 the bytes and ~1/8 the cycles; on
    // CLUSTERED corpora use s10_ann_bucketed (operators/AnnJoin), which
    // cuts the pair count itself via coarse-centroid cells — recall and
    // candidate-growth evidence on a clustered synthetic corpus in
    // SearchSpec + SCALE.md.
    "s06_ann_knn_join" -> ((s, dir) => {
      val B = 8; val nBits = 512; val cands = 96; val k = 3
      val e = emb(s, dir)
        .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(VF.normSq(col("v"))))
      val hams = blockPairJoin(s, sigTable(s, dir, nBits, B), B, Seq("sig"))
        .select(col("id_l"), col("id_r"),
          VF.hammingSig(col("sig_l"), col("sig_r")).as("ham"))
      // both orientations from the same pass (see s04)
      val oriented = hams
        .select(explode(array(
          struct(col("id_l").as("vec_id"), col("id_r").as("neighbor_id"), col("ham")),
          struct(col("id_r").as("vec_id"), col("id_l").as("neighbor_id"), col("ham"))))
          .as("e"))
        .select(col("e.vec_id"), col("e.neighbor_id"), col("e.ham"))
      val cand = graft.operators.Relational.topKPerKey(oriented, Seq("vec_id"),
        Seq(col("ham").asc, col("neighbor_id").asc), cands)
      val rerank = cand
        .join(e.select(col("vec_id"), col("v").as("v_q"), col("nrm").as("nrm_q")),
          Seq("vec_id"))
        .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("v_n"),
          col("nrm").as("nrm_n")), Seq("neighbor_id"))
        .select(col("vec_id"), col("neighbor_id"),
          (VF.dot(col("v_q"), col("v_n")) / (col("nrm_q") * col("nrm_n")))
            .as("score"))
      graft.operators.Relational.topKPerKey(rerank, Seq("vec_id"),
        Seq(col("score").desc, col("neighbor_id").asc), k)
        .select(col("vec_id"), col("neighbor_id"), col("score"))
    }),

    // incremental ANN probe — the vector twin of d14's nightly-ingest
    // shape, and the form that actually carries a 100 TB embedding
    // corpus: new arrivals (here vec_id % 100 == 0, ~1%) are k-NN'd
    // against the EXISTING corpus's sketch index with NO self-join at
    // all — the arrivals' signatures broadcast, the index streams
    // through ONE narrow scan (8-long rows), per-arrival hamming top-C
    // off TopKPerKey heaps, exact rerank on |new|·C pairs. Per-batch
    // cost is O(index · |new|) sketch ops + O(|new| · C) exact dots;
    // the corpus-wide pair scan (s06) never re-runs at ingest. In
    // production the index side is the PRECOMPUTED sigTable next to
    // the embeddings; here it builds from the same memoized table so
    // the operator is self-contained.
    "s07_ann_incremental" -> ((s, dir) => {
      // C=128 (vs s06's 96): the rerank is per-ARRIVAL (|new|·C exact
      // dots — trivial for a 1% batch), so the probe buys recall
      // headroom cheaply; measured recall vs brute force = 1.000 at all
      // three SFs (96 dropped one neighbor at sf0.001's 5-arrival
      // sample)
      val B = 8; val nBits = 512; val cands = 128; val k = 3
      val e = emb(s, dir)
        .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(VF.normSq(col("v"))))
      val sig = sigTable(s, dir, nBits, B)
      val isNew = col("vec_id") % 100 === 0
      val newSig = sig.filter(isNew)
        .select(col("vec_id").as("new_id"), col("sig").as("new_sig"))
      val idxSig = sig.filter(!isNew)
      // deliberate bounded cartesian: every index row scores against the
      // BROADCAST ~1% arrival batch — the probe pattern, not a blowup
      val hams = idxSig.crossJoin(broadcast(newSig))
        .select(col("new_id").as("vec_id"), col("vec_id").as("neighbor_id"),
          VF.hammingSig(col("new_sig"), col("sig")).as("ham"))
      val cand = graft.operators.Relational.topKPerKey(hams, Seq("vec_id"),
        Seq(col("ham").asc, col("neighbor_id").asc), cands)
      val rerank = cand
        .join(e.select(col("vec_id"), col("v").as("v_q"), col("nrm").as("nrm_q")),
          Seq("vec_id"))
        .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("v_n"),
          col("nrm").as("nrm_n")), Seq("neighbor_id"))
        .select(col("vec_id"), col("neighbor_id"),
          (VF.dot(col("v_q"), col("v_n")) / (col("nrm_q") * col("nrm_n")))
            .as("score"))
      graft.operators.Relational.topKPerKey(rerank, Seq("vec_id"),
        Seq(col("score").desc, col("neighbor_id").asc), k)
        .select(col("vec_id"), col("neighbor_id"), col("score"))
    }),

    // BUCKETED batch k-NN join — the sub-quadratic candidate mode of
    // s06 for CLUSTERED corpora: coarse-centroid cells (top-2 of 16
    // deterministic centroids, multi-probe for boundary pairs) prune
    // the pair space BEFORE the sketch ranks anything; only co-resident
    // pairs reach the hamming/rerank cascade. On this harness corpus
    // (isotropic) the cells have deliberately weak pruning power — the
    // oracle replays the identical cascade so the COMPOSITION is
    // hash-verified here; the pruning/recall evidence lives on the
    // clustered synthetic corpus (SearchSpec law: recall ≥ 0.95 vs the
    // exact join at candidate fraction ≪ 1; SCALE.md: candidate growth
    // ~linear in n when nCells scales with n). See operators/AnnJoin.
    "s10_ann_bucketed" -> ((s, dir) => {
      val nBits = 512; val nC = 16; val probes = 2; val cands = 96; val k = 3
      val sig = sigTable(s, dir, nBits, 8).select(col("vec_id"), col("sig"))
      graft.operators.AnnJoin.bucketedKnnJoin(
        embWide(s, dir), sig, "vec_id", "embedding",
        dim = 64, nCells = nC, probes = probes, cands = cands, k = k)
    }),

    // SEMANTIC decontamination — the embedding-level twin of t12's
    // exact n-gram check: a training vector is contaminated if its
    // max cosine against the held-out eval set (label 0) reaches the
    // threshold, catching paraphrases and near-translations that
    // n-gram overlap misses. Runs as the bucketed two-corpus cascade
    // (train side probes the eval side; candidates track
    // |train|·cellSize, not |train|·|eval|) with k=1 and a final
    // threshold filter — at 100 TB the eval side is small and its
    // cells/signatures come straight off the AnnIndex artifact.
    "e11_semantic_decontam" -> ((s, dir) => {
      val nBits = 512; val nC = 16; val probes = 2; val cands = 32
      val threshold = 0.35 // this corpus is isotropic; real corpora ~0.9
      val sig = sigTable(s, dir, nBits, 8).select(col("vec_id"), col("sig"))
      val e = emb(s, dir)
      val labels = e.select(col("vec_id"), col("label"))
      val isEval = col("label") === 0
      val train = e.join(labels.filter(!isEval).select("vec_id"), Seq("vec_id"), "left_semi")
      val eval_ = e.join(labels.filter(isEval).select("vec_id"), Seq("vec_id"), "left_semi")
      graft.operators.AnnJoin.bucketedKnnJoinAgainst(
          train, eval_,
          sig.join(train.select("vec_id"), Seq("vec_id"), "left_semi"),
          sig.join(eval_.select("vec_id"), Seq("vec_id"), "left_semi"),
          "vec_id", "embedding", dim = 64, nCells = nC, probes = probes,
          cands = cands, k = 1)
        .filter(col("score") >= threshold)
        .select(col("vec_id"), col("neighbor_id").as("eval_id"),
          col("score").as("max_eval_sim"))
    }),

    // embedding-space DRIFT monitoring — the health check run when a
    // corpus is re-embedded (model upgrade, data refresh): per label,
    // compare the centroid of snapshot A (even vec_ids stand in for
    // yesterday's embeddings) against snapshot B (odd ids), reporting
    // member counts and the centroid cosine. Composes e04's machinery:
    // per-(label, side, dim) means via the vec_id-ordered pinned fold
    // (bit-identical across engines — the deterministic-reduction
    // contract), assembled into per-side centroid arrays ordered by
    // dim, one tiny label-keyed join. Result cardinality is |labels|
    // regardless of corpus size; every shuffle key contains the label,
    // so the plan is two map-side-combinable aggregations + a broadcast-
    // scale join — the natural 100 TB monitoring layout.
    "e12_embedding_drift" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("label"),
        VF.toDouble(col("embedding")).as("v"))
      val means = e
        .select(col("label"), (col("vec_id") % 2 === 0).as("is_a"),
          col("vec_id"), posexplode(col("v")).as(Seq("dim", "val")))
        .groupBy(col("label"), col("is_a"), col("dim"))
        .agg(count(lit(1)).as("n"),
          aggregate(
            transform(array_sort(collect_list(struct(col("vec_id"), col("val")))),
              x => x.getField("val")),
            lit(0.0), (a, x) => a + x).as("s"))
        .select(col("label"), col("is_a"), col("dim"), col("n"),
          (col("s") / col("n")).as("m"))
      val centroids = means.groupBy(col("label"), col("is_a"))
        .agg(max(col("n")).as("n"),
          transform(array_sort(collect_list(struct(col("dim"), col("m")))),
            x => x.getField("m")).as("c"))
      val a = centroids.filter(col("is_a"))
        .select(col("label"), col("n").as("n_a"), col("c").as("ca"))
      val b = centroids.filter(!col("is_a"))
        .select(col("label"), col("n").as("n_b"), col("c").as("cb"))
      a.join(b, Seq("label"))
        .select(col("label"), col("n_a"), col("n_b"),
          VF.cosine(col("ca"), col("cb")).as("centroid_cos"))
    }),

    // embedding OUTLIER detection — the garbage-embedding filter every
    // ingest runs (corrupt decode, wrong-model vectors, mislabeled
    // rows): per label, each vector's L2 distance to its label centroid
    // is z-scored against the label cohort; |z| beyond 2 flags the
    // vector. Three label-keyed aggregations (centroid via the e04/e12
    // pinned fold, then pinned mean and second moment of the distance),
    // each map-side-combinable with |labels|-scale outputs; the only
    // corpus-sized rows are the (vec_id, dist, z) result itself. The
    // pinned vec_id-ordered folds keep every statistic bit-replayable
    // in the oracle — the deterministic-reduction contract again.
    "e13_embedding_outliers" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("label"),
        VF.toDouble(col("embedding")).as("v"))
      val means = e
        .select(col("label"), col("vec_id"),
          posexplode(col("v")).as(Seq("dim", "val")))
        .groupBy(col("label"), col("dim"))
        .agg(count(lit(1)).as("n"),
          aggregate(
            transform(array_sort(collect_list(struct(col("vec_id"), col("val")))),
              x => x.getField("val")),
            lit(0.0), (a, x) => a + x).as("s"))
        .select(col("label"), col("dim"), (col("s") / col("n")).as("m"))
      val cent = means.groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          x => x.getField("m")).as("c"))
      val dists = e.join(cent, Seq("label"))
        .select(col("vec_id"), col("label"),
          sqrt(aggregate(zip_with(col("v"), col("c"),
            (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x))
            .as("dist"))
      val mu = dists.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          aggregate(
            transform(array_sort(collect_list(struct(col("vec_id"), col("dist")))),
              x => x.getField("dist")),
            lit(0.0), (a, x) => a + x).as("sd"))
        .select(col("label"), col("n"), (col("sd") / col("n")).as("mu"))
      val sg = dists.join(mu, Seq("label"))
        .groupBy(col("label"))
        .agg(min(col("mu")).as("mu"), min(col("n")).as("n"),
          aggregate(
            transform(array_sort(collect_list(struct(col("vec_id"),
              ((col("dist") - col("mu")) * (col("dist") - col("mu")))
                .as("dd")))),
              x => x.getField("dd")),
            lit(0.0), (a, x) => a + x).as("ss"))
        .select(col("label"), col("mu"), sqrt(col("ss") / col("n")).as("sigma"))
      dists.join(sg, Seq("label"))
        .select(col("vec_id"), col("label"), col("dist"),
          ((col("dist") - col("mu")) / col("sigma")).as("z"))
        .withColumn("is_outlier", col("z") > 2.0)
    }),

    // two-corpus bucketed k-NN RETRIEVAL — the batch-RAG / hard-negative
    // shape: every query-side vector (vec_id % 10 == 0, ~10%) gets its
    // top-3 index-side neighbors. Unlike s07 (small arrival batch
    // broadcast against the index), BOTH sides here can be large:
    // coarse cells bucket each side independently and only co-resident
    // pairs are hamming-ranked — candidates track |queries|·cellSize,
    // not |queries|·|index|. Oracle replays cells → candidates →
    // hamming → rerank via the shared cascade body (query orientation
    // only). See operators/AnnJoin.bucketedKnnJoinAgainst.
    "s11_ann_retrieval" -> ((s, dir) => {
      val nBits = 512; val nC = 16; val probes = 2; val cands = 96; val k = 3
      val sig = sigTable(s, dir, nBits, 8).select(col("vec_id"), col("sig"))
      val isQ = col("vec_id") % 10 === 0
      val e = embWide(s, dir)
      graft.operators.AnnJoin.bucketedKnnJoinAgainst(
        e.filter(isQ), e.filter(!isQ),
        sig.filter(isQ), sig.filter(!isQ),
        "vec_id", "embedding", dim = 64, nCells = nC, probes = probes,
        cands = cands, k = k)
    }),

    // FACETED retrieval — filtered vector search, per-facet: the query's
    // top-3 neighbors WITHIN every label (the "top results per category /
    // per source / per language" serving shape, and the constrained-ANN
    // primitive behind attribute-filtered vector search). One codegen'd
    // cosine projection over the scan, then the custom TopKPerKey
    // operator: per-partition bounded heaps keyed by label — O(n log k)
    // with memory O(|labels|·k), no window sort, no global sort; the
    // one exchange moves only rows that survived a partition-local heap.
    "s14_faceted_topk" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("label"),
        VF.toDouble(col("embedding")).as("v"))
      val q = e.filter(col("vec_id") === 0).head().getSeq[Double](2)
      val scored = e.select(col("label"), col("vec_id"),
        VF.cosine(col("v"), lit(q.toArray)).as("score"))
      graft.operators.Relational.topKPerKey(
        scored, Seq("label"), Seq(col("score").desc, col("vec_id").asc), 3)
    }),

    // in-batch negative mining — the contrastive-training manifest
    // (DPR / SimCLR shape): examples are hash-shuffled into fixed-size
    // batches and every co-batched cross-label pair becomes a negative,
    // scored by cosine so downstream can weight by hardness. Negatives
    // come free from batching — no sampling join against the corpus —
    // and the md5 shuffle key makes batch composition unbiased,
    // deterministic, and skew-immune (same key algebra as t24's epoch
    // shuffle). Cost: one range-partition for the serial id, one
    // equi-join on batch_id whose per-key fan-out is exactly B rows, so
    // total work is O(n·B) — linear in the corpus for fixed batch size,
    // never a corpus self-join. Output: one row per (anchor, negative)
    // ordered pair inside each batch.
    "s12_inbatch_negatives" -> ((s, dir) => {
      val B = 32L
      val e = emb(s, dir).select(col("vec_id"), col("label"),
        VF.toDouble(col("embedding")).as("v"))
      val key = conv(substring(md5(concat(col("vec_id").cast("string"),
        lit(":batch0"))), 1, 8), 16, 10).cast(LongType)
      val pos = graft.operators.Relational.withSerialIdDistributed(
        e.withColumn("shuffle_key", key),
        Seq(col("shuffle_key"), col("vec_id")), "pos")
      // integer div (not IEEE / + truncate — exact at any corpus size);
      // localCheckpoint materializes the batch assignment ONCE so the
      // self-join's two branches don't each redo the range-partition
      // sort — the in-session stand-in for writing the batched table
      val batched = graft.SessionCache.tracked(
        pos.select(expr(s"(pos - 1) div $B").as("batch_id"),
          col("vec_id"), col("label"), col("v")))
      val a = batched.select(col("batch_id"), col("vec_id").as("anchor_id"),
        col("label").as("la"), col("v").as("va"))
      val b = batched.select(col("batch_id"), col("vec_id").as("neg_id"),
        col("label").as("lb"), col("v").as("vb"))
      a.join(b, Seq("batch_id"))
        .filter(col("anchor_id") < col("neg_id") && col("la") =!= col("lb"))
        .select(col("batch_id"), col("anchor_id"), col("neg_id"),
          VF.cosine(col("va"), col("vb")).as("score"))
    }),

    // Matryoshka (prefix-dimension) retrieval cascade (Kusupati et al.
    // NeurIPS'22): rank by the cosine of the FIRST 32 of 64 dimensions —
    // a 2× cheaper scan reading half of each vector — keep the top 192
    // candidates, then rerank those exactly at full width. Both stages
    // plan as TakeOrderedAndProject (per-partition top-C, driver merge —
    // no global sort), and candidates carry their full vector so the
    // rerank never rejoins the corpus. This is the MRL serving pattern:
    // at 100 TB the prefix scan is the only corpus-wide pass and its
    // bytes-touched drop with the prefix ratio; recall vs the full-width
    // scan is law-tested against s01. The harness corpus is ISOTROPIC
    // (no MRL training concentrates variance into early dims), so the
    // half-width prefix is the honest setting here — production MRL
    // embeddings front-load information and take dPre ≪ dim.
    "s13_matryoshka_topk" -> ((s, dir) => {
      val dPre = 32; val cands = 192; val k = 10
      val e = emb(s, dir).select(col("vec_id"),
        VF.toDouble(col("embedding")).as("v"))
      val q = e.filter(col("vec_id") === 0).head().getSeq[Double](1)
      val qPre = lit(q.take(dPre).toArray)
      val qFull = lit(q.toArray)
      val coarse = e
        .select(col("vec_id"), col("v"),
          VF.cosine(slice(col("v"), 1, dPre), qPre).as("cscore"))
        .orderBy(col("cscore").desc, col("vec_id")).limit(cands)
      coarse
        .select(col("vec_id"), VF.cosine(col("v"), qFull).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(k)
    }),

    // late-interaction (MaxSim) reranking — the ColBERT serving shape
    // (Khattab & Zaharia, SIGIR'20): documents and the query each carry
    // MULTIPLE token vectors (here the 4 disjoint 16-dim slices of the
    // 64-dim embedding — the harness stand-in for per-token encoder
    // output), and the relevance score is Σ over query tokens of the MAX
    // cosine against any doc token. Production two-stage layout: a
    // single-vector cosine retrieves a bounded candidate set (the only
    // corpus-wide pass — TakeOrderedAndProject, no shuffle of vectors),
    // then the O(tokens²)-per-pair MaxSim runs on candidates only.
    // Every slice cosine is the same pinned dot fold as s01/s13, the
    // per-query-token max is a 4-way greatest, and the final sum is a
    // fixed left-assoc 4-term chain — bit-identical cross-engine. At
    // 100 TB the candidate stage rides any of the s02/s03/s10 ANN
    // paths unchanged; MaxSim cost stays k-bounded.
    "s15_maxsim_rerank" -> ((s, dir) => {
      val nTok = 4; val sub = 16; val cands = 192; val k = 10
      val e = emb(s, dir).select(col("vec_id"),
        VF.toDouble(col("embedding")).as("v"))
      val q = e.filter(col("vec_id") === 0).head().getSeq[Double](1)
      val coarse = e
        .select(col("vec_id"), col("v"),
          VF.cosine(col("v"), lit(q.toArray)).as("cscore"))
        .orderBy(col("cscore").desc, col("vec_id")).limit(cands)
      def docSlice(j: Int) = slice(col("v"), j * sub + 1, sub)
      val maxSims = (0 until nTok).map { i =>
        val qi = lit(q.slice(i * sub, (i + 1) * sub).toArray)
        greatest((0 until nTok).map(j => VF.cosine(docSlice(j), qi)): _*)
      }
      coarse
        .select(col("vec_id"), maxSims.reduceLeft(_ + _).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(k)
    }),

    // retrieval-quality evaluation AS A QUERY — the recall@10 report a
    // team reads before flipping an index flag in production: every
    // approximate ANN tier (LSH buckets, IVF probes, PQ-ADC codes,
    // Matryoshka prefix cascade) scored against the exact scan (s01) on
    // the same query, in one relational plan. Each method's top-10 is a
    // 10-row subplan (the k-bounded outputs of the verified tiers), so
    // the whole evaluation is KB-scale after the scans — at 100 TB the
    // per-method costs are the tiers' own documented costs, and the
    // report stays |methods| rows. The recall law lives in the test
    // suite; THIS query is the operational artifact (method, k, hits,
    // recall) with its own cross-engine oracle.
    "s16_retrieval_eval" -> ((s, dir) => {
      val exact = queries("s01_cosine_topk")(s, dir).select(col("vec_id"))
      val methods = Seq(
        "lsh" -> "s02_cosine_topk_lsh", "ivf" -> "s03_cosine_topk_ivf",
        "pq" -> "s08_pq_adc_topk", "mrl" -> "s13_matryoshka_topk")
      val labeled = methods.map { case (label, q) =>
        queries(q)(s, dir).select(lit(label).as("method"), col("vec_id"))
      }.reduce(_ unionByName _)
      labeled
        .join(exact.withColumn("hit", lit(1L)), Seq("vec_id"), "left")
        .groupBy(col("method"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("method"), col("k"), col("n_hits"),
          (col("n_hits").cast(DoubleType) / col("k").cast(DoubleType))
            .as("recall"))
    }),

    // per-document n-gram novelty — the corpus-level duplication signal
    // (RefinedWeb/Gopher-style): for every document, the fraction of its
    // DISTINCT 3-gram shingles that occur in any other document
    // (document frequency ≥ 2). d15 localizes duplicated spans; this
    // reduces the same evidence to one scalar per doc, the form a
    // quality-filter threshold consumes. Dataflow: one explode of the
    // per-doc distinct shingle set, one map-side-combined count by gram
    // (the gram-frequency table — shared shape with t08's rare-terms),
    // one join back keyed by gram, one count-up per doc. Everything is
    // linear in total shingle volume; at 100 TB the join-back would
    // prefilter with a bloom of the df≥2 grams (j02's machinery) so
    // unique-gram rows — the vast majority — never shuffle.
    "t23_ngram_novelty" -> ((s, dir) => {
      // r18 (guide §8 — decide on small rows, never re-shuffle the
      // heavy stream): the old shape joined the corpus gram stream
      // BACK against the census — a second corpus-scale exchange of
      // every (doc_id, gram) row. Shingles are per-doc DISTINCT
      // (WordShingles dedups), so a df = 1 gram lives in exactly one
      // doc and min(doc_id) in the census row IS that owner: per-doc
      // UNIQUE counts fall out of the census itself (+8 bytes per
      // gram partial), and n_dup_grams = n_grams − n_uniq exactly.
      // One gram-stream shuffle instead of two plus a join; novelty's
      // float expression keeps the identical single division —
      // hash-identical output (oracle re-checked sf0.01 + sf0.1).
      val g = docs(s, dir)
        .select(col("doc_id"), explode(TF.shingles(col("text"))).as("gram"))
      val uniqPerDoc = g.groupBy(col("gram"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
        .filter(col("df") === 1)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_uniq"))
      val nd = col("n_grams") - coalesce(col("n_uniq"), lit(0L))
      // a NULL text has no grams and emits no row, as in the explode
      // shape (and the oracle's unnest); any other text has ≥ 1 gram
      docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(TF.shingles(col("text"))).cast(LongType).as("n_grams"))
        .join(uniqPerDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"), nd.as("n_dup_grams"),
          (lit(1.0) - nd.cast(DoubleType)
            / col("n_grams").cast(DoubleType)).as("novelty"))
    }),

    // classifier evaluation — the metrics step of every model-based
    // filter (t03's lang-ID evaluated against the table's gold labels):
    // per-(gold, predicted) confusion counts plus per-class precision
    // and recall as exact integer ratios (single divisions — engine-
    // stable). The confusion matrix is classes², bounded metadata; the
    // only corpus-sized work is the one count aggregation.
    "t22_langid_eval" -> ((s, dir) => {
      val pred = docs(s, dir).select(col("doc_id"), col("lang"),
        TF.langId(col("text")).as("lang_pred"))
      val conf = pred.groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
      val byGold = conf.groupBy(col("lang")).agg(sum(col("n")).as("n_gold"))
      val byPred = conf.groupBy(col("lang_pred")).agg(sum(col("n")).as("n_pred"))
      conf.join(byGold, Seq("lang")).join(byPred, Seq("lang_pred"))
        .select(col("lang"), col("lang_pred"), col("n"),
          when(col("lang") === col("lang_pred"),
            col("n").cast(DoubleType) / col("n_pred").cast(DoubleType)).as("precision"),
          when(col("lang") === col("lang_pred"),
            col("n").cast(DoubleType) / col("n_gold").cast(DoubleType)).as("recall"))
    }),

    // -- multimodal columns ---------------------------------------------

    // opaque binary payload + typed metadata (decode stubbed: the
    // image/audio codecs aren't in this container — the Spark-side
    // schema/partitioning/batching is the real, tested part)
    "m01_multimodal_meta" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        length(col("text").cast(BinaryType)).as("n_bytes"),
        substring(col("text"), 1, 12).as("head"))),

    "m02_multimodal_decode" -> ((s, dir) =>
      graft.multimodal.Multimodal.decodePipeline(docs(s, dir))),

    // frame sampling over an opaque binary payload (the video/audio
    // "sample every Nth frame" primitive): the payload is treated as
    // fixed-width 16-byte frames, every 4th full frame is selected, and
    // each sampled frame gets a checksum (the codec stand-in, like m02's
    // decode). Generate + per-row expressions only — the fan-out is
    // bounded by payload size, no shuffle; rows whose payload is shorter
    // than one frame yield nothing by contract.
    "m03_frame_sample" -> ((s, dir) =>
      docs(s, dir)
        .filter(length(col("text")) >= 16)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L),
            (floor(length(col("text")) / 16) - 1).cast("long"), lit(4L))).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          Hashing.fnvChecksum(
            expr("substring(text, CAST(frame_idx * 16 + 1 AS INT), 16)").cast(BinaryType))
            .as("frame_checksum"))),

    // the audio modality, decoded for real: docs rendered as RIFF/WAVE
    // PCM16 payloads, re-parsed by a genuine chunk-walking RIFF parser
    // (LE fields, pad rule, fmt contract, truncation guards), then PCM
    // features from integer accumulators — encode→parse→extract per row,
    // no shuffle (see multimodal.Multimodal.wavPipeline)
    "m04_audio_decode" -> ((s, dir) =>
      graft.multimodal.Multimodal.wavPipeline(docs(s, dir))),

    // perceptual image hashing — the multimodal arm of the dedup tier:
    // every PPM payload decodes to a 64-bit average hash (8×8 nearest-
    // neighbor luminance grid, integer mean compare — see
    // PpmCodec.aHash), so image near-dup detection becomes a small-
    // hamming pair search over longs: the EXACT shape d05's byte-banded
    // SimHash join already scales (band on 8 hash bytes, pigeonhole
    // guarantees hamming ≤ 7 pairs collide on some band). Per-row
    // decode+hash, no shuffle.
    "m05_image_phash" -> ((s, dir) =>
      graft.multimodal.Multimodal.phashTable(docs(s, dir))),

    // scene-cut detection — the video arm of the multimodal tier: a doc
    // is treated as a frame SEQUENCE (every 48-char slice renders its
    // own PPM through the m02/m05 encoder, dims still keyed by doc_id so
    // all frames of a doc share a resolution), each frame gets its
    // 64-bit aHash, and the hamming distance between CONSECUTIVE frame
    // hashes (lag window per doc, ordered by frame index) marks a cut
    // wherever the perceptual content jumps. Encode+hash are per-row
    // expressions; the only shuffle is the window keyed by doc_id, and a
    // doc's frame count is bounded, so the partition-local sort stays
    // tiny at any corpus scale (the 100 TB shape: billions of docs ×
    // tens of frames, never one giant ordered partition).
    "m06_scene_cut" -> ((s, dir) => {
      val frameChars = FrameChars
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      docs(s, dir)
        .filter(length(col("text")) >= 2 * frameChars)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L),
            (floor(length(col("text")) / frameChars) - 1).cast("long")))
            .as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          graft.multimodal.Multimodal.ppmAHash(
            graft.multimodal.Multimodal.ppmEncode(col("doc_id"),
              expr(s"substring(text, CAST(frame_idx * $frameChars + 1 AS INT), $frameChars)")))
            .as("phash"))
        .withColumn("prev_phash", lag(col("phash"), 1).over(byDoc))
        .filter(col("prev_phash").isNotNull)
        .select(col("doc_id"), col("frame_idx"),
          bit_count(col("phash").bitwiseXOR(col("prev_phash"))).as("hamming"))
        .withColumn("is_cut", col("hamming") >= SceneCutHamming)
    }),

    // keyframe selection — the stage after m06's shot-boundary
    // detection in a video-curation pipeline: each scene is represented
    // by its FIRST frame (the keyframe a downstream captioner/embedder
    // actually decodes), with the scene's frame extent alongside. Scene
    // starts = frame 0 plus every cut frame; extents close at the next
    // start or the document's frame count. Composes directly over the
    // m06 query (the cut table is the input contract, so the two stages
    // cannot drift), adds one doc-keyed window — cut counts per doc are
    // bounded by frames per doc, so the window partitions stay balanced
    // at any corpus size.
    "m07_keyframes" -> ((s, dir) => {
      val frameChars = FrameChars
      val cuts = queries("m06_scene_cut")(s, dir)
      val starts = cuts.filter(col("is_cut"))
        .select(col("doc_id"), col("frame_idx"))
        .unionByName(cuts.select(col("doc_id")).distinct()
          .withColumn("frame_idx", lit(0L)))
      val totals = docs(s, dir)
        .filter(length(col("text")) >= 2 * frameChars)
        .select(col("doc_id"),
          floor(length(col("text")) / frameChars).cast(LongType)
            .as("doc_frames"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      starts.join(totals, Seq("doc_id"))
        .withColumn("scene_id", row_number().over(w))
        .withColumn("next_start", lead(col("frame_idx"), 1).over(w))
        .select(col("doc_id"), col("scene_id"),
          col("frame_idx").as("keyframe_idx"),
          (coalesce(col("next_start"), col("doc_frames")) - col("frame_idx"))
            .as("n_frames"))
    }),

    // energy-threshold audio segmentation — the VAD (voice-activity
    // detection) shape of an audio-curation pipeline, the m04 decoder's
    // segmentation stage: each doc's WAV renders a per-32-sample-window
    // energy profile (the codegen'd [[graft.functions.WavWindowEnergy]]
    // — exact integer sums of |amplitude|), a window is ACTIVE iff its
    // energy strictly exceeds the doc's mean window energy — the
    // threshold compared in PURE INTEGER form (win·nwin > total), so
    // the gate is bit-free of libm (a 0.9× slack gate was measured
    // degenerate on this corpus: window energies sit within ±10% of
    // the mean, so every window passed and every doc was one segment)
    // — and consecutive active windows merge
    // into segments via gaps-and-islands (win_idx − row_number). Both
    // windows are doc-keyed and a doc's window count is bounded (≤ n/W),
    // so partitions stay balanced at any corpus size; the profile
    // itself is a per-row projection fused into the scan.
    "m08_audio_segments" -> ((s, dir) => {
      val W = 32
      val M = graft.multimodal.Multimodal
      val wins = docs(s, dir)
        .select(col("doc_id"),
          M.wavWindowEnergy(M.wavEncode(col("doc_id"), col("text")), W)
            .as("wins"))
        .filter(size(col("wins")) >= 1)
      val wr = wins.select(col("doc_id"),
        size(col("wins")).cast(LongType).as("nwin"),
        aggregate(col("wins"), lit(0L), (a, x) => a + x).as("total"),
        posexplode(col("wins")).as(Seq("win_idx", "sum_abs")))
      val act = wr.filter(col("sum_abs") * col("nwin") > col("total"))
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("win_idx"))
      val seg = act
        .withColumn("grp", col("win_idx") - row_number().over(byDoc))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("win_idx")).as("start_win"),
          count(lit(1)).as("n_windows"),
          sum(col("sum_abs")).as("seg_sum_abs"))
      seg
        .withColumn("seg_id", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("start_win"))))
        .select(col("doc_id"), col("seg_id"),
          col("start_win").cast(LongType).as("start_win"),
          col("n_windows"), col("seg_sum_abs"))
    }),

    // image near-dup pairs — the multimodal arm of the dedup tier made
    // an actual PAIR operator (m05 builds the 64-bit aHash table; this
    // is a BAND-PAIR small-hamming join over it). Two measured design
    // decisions against this family's skew: (1) perceptual hashes of
    // templated media are low-entropy, so a single 8-bit band is a hot
    // key (3,553 hashes on one chunk at a 10× corpus → 98M candidate
    // pairs, quadratic); hamming ≤ 6 over 8 bands forces AT LEAST TWO
    // bands to match (pigeonhole: ≤ 6 errors cannot touch 7 bands), so
    // candidates join on an ORDERED BAND PAIR — a 16-bit joint chunk
    // (28 keys/hash) that collapses the hottest group to 350 and the
    // candidate volume 12× (7.9M). (2) The join runs in distinct
    // hash-VALUE space with doc expansion after the hamming filter;
    // identical-hash documents (the exact-dup mass) pair through one
    // equi-join that never touches a band.
    "m09_image_neardup" -> ((s, dir) =>
      graft.operators.Dedup.bandedHammingPairs(
        queries("m05_image_phash")(s, dir), "doc_id", "phash", maxHamming = 6)),

    // audio near-dup pairs — the audio arm of the multimodal dedup
    // triple (m09 images, m10 video, this): each doc's WAV renders a
    // 63-bit ENERGY-DELTA-SIGN fingerprint (bit b = |s[b+1]| > |s[b]|
    // over the first 64 samples — the Haitsma–Kalker/Philips audio
    // fingerprint shape on the amplitude envelope), and the pair search
    // is the SAME band-pair small-hamming engine m09 uses
    // ([[graft.operators.Dedup.bandedHammingPairs]] — one engine, two
    // modalities, the blocking analysis carries over unchanged). The
    // fingerprint is a per-row codegen'd projection (WavWindowEnergy at
    // window 1 = |amplitude| per sample, then the flat 63-term integer
    // sum [[graft.multimodal.Multimodal.audioFingerprint]]) — no shuffle
    // before the pair join, and the delta-SIGN quantization makes it
    // invariant to uniform gain, the transform a re-encoded copy
    // actually applies. Every encoded doc has ≥ 64 samples by the
    // generator's contract, so the fold never reads out of range.
    "m12_audio_neardup" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      val fp = docs(s, dir)
        .select(col("doc_id"),
          M.wavWindowEnergy(M.wavEncode(col("doc_id"), col("text")), 1)
            .as("amps"))
        .select(col("doc_id"), M.audioFingerprint(col("amps")).as("afp"))
      graft.operators.Dedup.bandedHammingPairs(
        fp, "doc_id", "afp", maxHamming = 6)
    }),

    // video near-dup — the whole multimodal chain composed into one
    // fingerprint operator: frames → perceptual hashes (m05/m06's
    // expressions) → scene keyframes (m07's cut rule) → per-video
    // scene-hash SET → MinHash(128) + 32×4 LSH banding + exact
    // set-Jaccard verify, REUSING Dedup.minhashLshPairs verbatim (the
    // video fingerprint is just a shingle set whose "shingles" are
    // scene hashes — the d03/d04 machinery applies unchanged, recall
    // regime included: P(candidate | J ≥ 0.8) ≈ 1 at 32×4). This is
    // the mirror-site / re-encode detection a video curation pipeline
    // runs nightly; everything upstream of the pair join is per-row,
    // and the pair join inherits d04's banded near-linear candidates.
    "m10_video_neardup" -> ((s, dir) => {
      val frameChars = FrameChars
      val M = graft.multimodal.Multimodal
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      val frames = docs(s, dir)
        .filter(length(col("text")) >= 2 * frameChars)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L),
            (floor(length(col("text")) / frameChars) - 1).cast("long")))
            .as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          M.ppmAHash(M.ppmEncode(col("doc_id"),
            expr(s"substring(text, CAST(frame_idx * $frameChars + 1 AS INT), $frameChars)")))
            .as("phash"))
      val kf = frames
        .withColumn("prev", lag(col("phash"), 1).over(byDoc))
        .filter(col("prev").isNull ||
          bit_count(col("phash").bitwiseXOR(col("prev"))) >= SceneCutHamming)
      val hs = kf.groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("phash"))).as("hs"))
      graft.operators.Dedup.minhashLshPairs(hs, 0.8, k = 128,
        bands = 32, estFloor = 0.6)
    }),

    // multimodal release manifest — the m-tier's d16: every doc's media
    // health (image decodes, audio decodes), near-dup verdict (min-id
    // survivor over the m09 pair table — a doc is dropped iff a
    // smaller-id hamming-≤6 twin exists), and scene count, composed
    // from the VERIFIED m04/m05/m07/m09 queries so the manifest cannot
    // drift from its stages. kept = healthy ∧ not-a-dup — the media
    // corpus that ships to the captioner. Joins are all doc-keyed;
    // every stage's scale posture is its own documented one.
    "m11_media_manifest" -> ((s, dir) => {
      val img = queries("m05_image_phash")(s, dir)
        .select(col("doc_id"), col("phash").isNotNull.as("image_ok"))
      val aud = queries("m04_audio_decode")(s, dir)
        .select(col("doc_id"), col("sample_rate").isNotNull.as("audio_ok"))
      val dups = queries("m09_image_neardup")(s, dir)
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("d", lit(true))
      val scenes = queries("m07_keyframes")(s, dir)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_scenes"))
      img.join(aud, Seq("doc_id"))
        .join(dups, Seq("doc_id"), "left")
        .join(scenes, Seq("doc_id"), "left")
        .select(col("doc_id"), col("image_ok"), col("audio_ok"),
          coalesce(col("d"), lit(false)).as("image_dup"),
          coalesce(col("n_scenes"), lit(0L)).as("n_scenes"),
          (col("image_ok") && col("audio_ok") &&
            !coalesce(col("d"), lit(false))).as("kept"))
    }),

    // corpus-similarity map over embedding labels — the data-mixing
    // diagnostic: per-label mean vectors (e04's bit-reproducible sorted
    // folds per (label, dim)) and pairwise cosine between the handful of
    // label centroids. Labels are bounded metadata, so the pair join
    // broadcasts k vectors; the heavy part (per-cell means) is a
    // map-side-combined aggregation keyed by (label, dim).
    "g03_label_centroid_sim" -> ((s, dir) => {
      val cells = emb(s, dir)
        .select(col("label"), col("vec_id"), VF.toDouble(col("embedding")).as("v"))
        .select(col("label"), col("vec_id"), posexplode(col("v")).as(Seq("dim", "val")))
        .groupBy(col("label"), col("dim"))
        .agg((aggregate(
            transform(array_sort(collect_list(struct(col("vec_id"), col("val")))),
              x => x.getField("val")),
            lit(0.0), (a, x) => a + x) / count(lit(1))).as("m"))
      val cents = cells.groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          x => x.getField("m")).as("c"))
      cents.as("a").join(broadcast(cents.as("b")), col("a.label") < col("b.label"))
        .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
          (VF.dot(col("a.c"), col("b.c")) /
            (sqrt(VF.normSq(col("a.c"))) * sqrt(VF.normSq(col("b.c"))))).as("cos_sim"))
    }),

    // -- group sketches -------------------------------------------------

    // per-source MinHash sketch as a TWO-LEVEL aggregate: the codegen'd
    // MinHashSignature expression reduces each document to its k-wide
    // signature in one primitive pass, then MinHashMergeAgg
    // (TypedImperativeAggregate, map-side-combined) folds signatures into
    // the per-source sketch with k comparisons per document — min
    // commutes with min, so this equals the per-token MinHashAgg
    // formulation (law-tested in AggregatesSpec) at a fraction of the
    // interpreted-update volume. Then pairwise estimated token-set
    // Jaccard between sources; the source set is small bounded metadata
    // (like partitions/tenants at 100 TB), so the pair join broadcasts a
    // handful of sketches. The hash family is FnvMinHashSignature
    // (MinHashMix) precisely so the oracle can replay the sketch in
    // HUGEINT arithmetic — min-of-mins makes the two-level aggregate
    // equal a flat min over each source's token set, which is what the
    // SQL twin computes.
    "g01_source_sketch" -> ((s, dir) => {
      // the sketch table is memoized+persisted per (session, dir): it feeds
      // BOTH sides of the pair join (one aggregation, not two) and repeated
      // invocations must not stack fresh persists (releaseCaches frees it)
      val sk = SessionCache.memo(s, dir, "sketch") {
        val t = docs(s, dir)
          .select(col("source"),
            Hashing.fnvMinhashSignature(TF.tokens(col("text")), 128).as("doc_sig"))
          .groupBy(col("source"))
          .agg(Hashing.minhashMergeAgg(col("doc_sig"), 128).as("sig"))
          .persist()
        t.count() // materialize the handful of per-source sketches once
        t
      }
      sk.as("a").join(broadcast(sk.as("b")), col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          Hashing.minhashEstJaccard(col("a.sig"), col("b.sig")).as("est_jaccard"))
    })
  )

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
  private def sketchCascadeSql(pairFrom: String, cands: Int, k: Int = 3,
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
  private def verdictOracle(lmGate: Boolean): String = {
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

  /** All oracle SQL except the compositions that quote other entries —
    * see [[oracles]], which closes over this map. */
  private val oraclesBase: Map[String, String] = Map(
    // Replays the whole two-level sketch flat: per-source distinct token
    // set (min-of-mins collapses the doc level), FNV base hash, the
    // MinHashMix finalizer per component j, signed min per (source, j),
    // then per-pair equal-component fraction. k = 128.
    "g01_source_sketch" ->
      s"""WITH tok AS (SELECT DISTINCT source, t FROM
              (SELECT source, unnest($sqlToks) AS t FROM documents)),
            hh AS (SELECT source, ${fnvSql("t")} AS hu FROM tok),
            sig AS (SELECT source, j, min(${signedSql(mixSql("hu", "j"))}) AS v
                    FROM hh CROSS JOIN (SELECT unnest(range(128)) AS j)
                    GROUP BY 1, 2)
          SELECT a.source AS src_a, b.source AS src_b,
                 CAST(count(*) FILTER (WHERE a.v = b.v) AS DOUBLE) / 128
                   AS est_jaccard
          FROM sig a JOIN sig b ON a.j = b.j AND a.source < b.source
          GROUP BY 1, 2""",
    // oracle works on shingle STRINGS where Spark moves 64-bit hashes —
    // identical counts up to FNV64 collisions (same contract as d03)
    "t12_decontaminate" ->
      s"""WITH tk AS (SELECT doc_id, source, $sqlToks AS tks FROM documents),
            s AS (SELECT doc_id, source, unnest(${sqlShinglesN("tks", 5)}) AS s
                  FROM tk),
            ev AS (SELECT DISTINCT s FROM s WHERE source = 'src0'),
            cp AS (SELECT doc_id, count(*) AS n_shingles,
                     count(*) FILTER (WHERE s IN (SELECT s FROM ev)) AS n_shared
                   FROM s WHERE source <> 'src0' GROUP BY 1)
          SELECT doc_id, n_shingles, n_shared,
                 n_shared > 0 AS contaminated
          FROM cp""",
    "d10_chunk_dedup" ->
      s"""WITH tk AS (SELECT doc_id, $sqlToks AS tks FROM documents),
            ix AS (SELECT doc_id, tks,
                     unnest(range(len(tks) // 10)) AS i FROM tk),
            ch AS (SELECT doc_id,
                     array_to_string(list_slice(tks,
                       CAST(i*10 + 1 AS BIGINT), CAST(i*10 + 10 AS BIGINT)),
                       ' ') AS chunk
                   FROM ix),
            dup AS (SELECT chunk FROM ch GROUP BY chunk
                    HAVING count(DISTINCT doc_id) >= 2),
            pd AS (SELECT doc_id, count(*) AS n_chunks,
                     count(*) FILTER (WHERE chunk IN (SELECT chunk FROM dup))
                       AS n_dup_chunks
                   FROM ch GROUP BY 1)
          SELECT doc_id, n_chunks, n_dup_chunks FROM pd""",
    // aligned unnest of equal-length lists is positional in DuckDB, which
    // reproduces posexplode(zip_with(...)) exactly
    "d11_cdc_chunks" ->
      s"""WITH base AS (SELECT doc_id, text, length(text) AS len FROM documents),
         cu AS (SELECT doc_id, text, len,
                  list_transform(list_filter(range(1, greatest(len - 7, 0) + 1),
                    i -> (${fnvSql("substring(text, CAST(i AS INT), 8)")}) % 64 = 0),
                    i -> i + 7) AS cs
                FROM base),
         se AS (SELECT doc_id, text,
                  list_prepend(CAST(1 AS BIGINT), list_transform(cs, c -> c + 1)) AS starts,
                  list_append(cs, CAST(len AS BIGINT)) AS ends
                FROM cu),
         ex AS (SELECT doc_id, text,
                  unnest(range(0, len(starts))) AS chunk_idx,
                  unnest(starts) AS st, unnest(ends) AS en
                FROM se)
         SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
                CAST(en - st + 1 AS INT) AS chunk_len,
                ${signedSql(fnvSql("substring(text, CAST(st AS INT), CAST(en - st + 1 AS INT))"))} AS chunk_hash
         FROM ex WHERE en >= st""",
    "t11_repetition" ->
      s"""WITH tk AS (SELECT doc_id, unnest($sqlToks) AS term FROM documents),
            c AS (SELECT doc_id, term, count(*) AS c FROM tk GROUP BY 1, 2),
            st AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS nd,
                          CAST(MAX(c) AS BIGINT) AS mx
                   FROM c GROUP BY 1)
          SELECT d.doc_id,
                 COALESCE(CAST(n - nd AS DOUBLE) / n, 0.0) AS dup_token_ratio,
                 COALESCE(CAST(mx AS DOUBLE) / n, 0.0) AS top_term_ratio
          FROM documents d LEFT JOIN st USING (doc_id)""",
    // the idf/tf arithmetic is written as the exact same single-op
    // sequence as the Spark expressions (log-free idf; see the query)
    "t13_bm25_search" ->
      s"""WITH $bm25WithClauses
          SELECT doc_id, score FROM sc WHERE score > 0.0
          ORDER BY score DESC, doc_id LIMIT 10""",
    "t14_bpe_merge" ->
      s"""WITH tk AS (SELECT $sqlToks AS tks FROM documents),
            p AS (SELECT unnest(list_transform(range(1, len(tks)),
                    i -> tks[i] || ' ' || tks[i+1])) AS pair
                  FROM tk WHERE len(tks) >= 2)
          SELECT pair, count(*) AS n FROM p GROUP BY 1
          ORDER BY n DESC, pair LIMIT 20""",
    "t21_feature_hash" -> {
      val hu = fnvSql("term")
      s"""WITH tk AS (SELECT doc_id, unnest($sqlToks) AS term FROM documents),
         cells AS (SELECT doc_id,
                     CAST(($hu) % 32 AS BIGINT) AS bucket,
                     SUM(CAST((($hu) // CAST(32 AS HUGEINT)) % 2 AS BIGINT) * 2 - 1) AS v
                   FROM tk GROUP BY 1, 2),
         vecs AS (SELECT doc_id, bucket, CAST(v AS BIGINT) AS v FROM cells),
         spine AS (SELECT o.doc_id, b.bucket
                   FROM (SELECT DISTINCT doc_id FROM vecs) o
                   CROSS JOIN (SELECT unnest(range(0, 32)) AS bucket) b),
         dense AS (SELECT s.doc_id, s.bucket, COALESCE(v.v, 0) AS v
                   FROM spine s LEFT JOIN vecs v
                     ON s.doc_id = v.doc_id AND s.bucket = v.bucket)
         SELECT doc_id,
                array_to_string(list(CAST(v AS VARCHAR) ORDER BY bucket), ',')
                  AS features
         FROM dense GROUP BY 1"""
    },
    // t01's token count + d01's fingerprint + a per-source mode window;
    // integer counts until the two share divisions
    "t28_corpus_datasheet" ->
      s"""WITH base AS (SELECT source, lang,
                 CAST(len($sqlToks) AS BIGINT) AS ntk,
                 md5(array_to_string($sqlToks, ' ')) AS fp
               FROM documents),
         a AS (SELECT source, count(*) AS n_docs,
                 CAST(SUM(ntk) AS BIGINT) AS n_tokens,
                 count(DISTINCT fp) AS n_distinct
               FROM base GROUP BY 1),
         lc AS (SELECT source, lang, count(*) AS c FROM base GROUP BY 1, 2),
         top AS (SELECT source, lang AS top_lang, c AS top_lang_docs,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY c DESC, lang) AS rn
                 FROM lc)
         SELECT a.source, a.n_docs, a.n_tokens,
                CAST(1.0 AS DOUBLE) - CAST(n_distinct AS DOUBLE)
                  / CAST(a.n_docs AS DOUBLE) AS dup_ratio,
                t.top_lang,
                CAST(t.top_lang_docs AS DOUBLE)
                  / CAST(a.n_docs AS DOUBLE) AS top_lang_share
         FROM a JOIN top t ON a.source = t.source AND t.rn = 1""",
    // same deterministic dirtying (chr(769) = U+0301, chr(7) = BEL),
    // DuckDB's nfc_normalize implements the same UAX #15 composition as
    // the JDK Normalizer behind graft's NfcNormalize; note DuckDB
    // regexp_replace needs the explicit 'g' flag (Spark's is global)
    "t29_normalize" ->
      """WITH d0 AS (SELECT doc_id,
              CASE WHEN doc_id % 3 = 0
                   THEN replace(text, 'a', 'a' || chr(769)) ELSE text END AS t
            FROM documents),
          d1 AS (SELECT doc_id,
              CASE WHEN doc_id % 5 = 0 THEN chr(7) || t || chr(7) ELSE t END AS t
            FROM d0),
          d2 AS (SELECT doc_id,
              CASE WHEN doc_id % 7 = 0 THEN replace(t, ' ', '  ') ELSE t END AS t
            FROM d1),
          c AS (SELECT doc_id, t,
              trim(regexp_replace(regexp_replace(nfc_normalize(t),
                '[\x00-\x1f\x7f]', '', 'g'), ' +', ' ', 'g')) AS clean
            FROM d2)
         SELECT doc_id, clean,
                CAST(length(t) AS INT) AS n_chars_dirty,
                CAST(length(clean) AS INT) AS n_chars_clean,
                t <> clean AS changed
         FROM c""",
    // id-range cohorts, min-decile first occurrence per type, 10-row
    // cumulative window — decile values are unique so DuckDB's default
    // RANGE frame equals Spark's
    "t30_vocab_growth" ->
      s"""WITH nd AS (SELECT count(*) AS n FROM documents),
          tok AS (SELECT doc_id, unnest($sqlShingles) AS gram FROM documents),
          wd AS (SELECT CAST(doc_id * 10 // n AS INT) AS decile, gram
                 FROM tok, nd),
          nv AS (SELECT fd AS decile, CAST(count(*) AS BIGINT) AS new_types
                 FROM (SELECT gram, min(decile) AS fd FROM wd GROUP BY gram)
                 GROUP BY fd),
          tc AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_grams
                 FROM wd GROUP BY decile)
          SELECT tc.decile, tc.n_grams,
                 CAST(sum(tc.n_grams) OVER (ORDER BY tc.decile) AS BIGINT)
                   AS cum_grams,
                 CAST(coalesce(nv.new_types, 0) AS BIGINT) AS new_types,
                 CAST(sum(coalesce(nv.new_types, 0)) OVER (ORDER BY tc.decile)
                   AS BIGINT) AS cum_vocab
          FROM tc LEFT JOIN nv ON nv.decile = tc.decile""",
    // same window shape (PARTITION BY source, n_tokens DESC, doc_id) and
    // the same inclusive-cumsum-fits-cap rule; all-integer comparisons
    "t31_source_caps" ->
      s"""WITH toks AS (SELECT doc_id, source,
                          CAST(len($sqlToks) AS BIGINT) AS n_tokens
                        FROM documents),
          tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens
                  FROM toks),
          cum AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
                      ORDER BY n_tokens DESC, doc_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
                  FROM toks),
          k AS (SELECT c.*,
                  c.cum_tokens <= CAST(floor(t.corpus_tokens * 0.03) AS BIGINT)
                    AS kept
                FROM cum c CROSS JOIN tot t)
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
                 CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
                 CAST(sum(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT)
                   AS tokens_kept
          FROM k GROUP BY source""",
    // same integer moments, and the two divides written as the same
    // single-op double expressions (cast-then-divide; the denominator
    // product stays integer until the cast)
    "t32_lexical_diversity" ->
      s"""WITH tk AS (SELECT source, unnest($sqlToks) AS term FROM documents),
            c AS (SELECT source, term, count(*) AS c FROM tk GROUP BY 1, 2),
            st AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                     CAST(count(*) AS BIGINT) AS n_types,
                     CAST(sum(c * (c - 1)) AS BIGINT) AS coll
                   FROM c GROUP BY 1)
          SELECT source, n_tokens, n_types,
                 CAST(n_types AS DOUBLE) / n_tokens AS ttr,
                 CAST(coll AS DOUBLE)
                   / CAST(n_tokens * (n_tokens - 1) AS DOUBLE) AS simpson
          FROM st""",
    // same df/argmax/flag algebra; shingles distinct per doc in both
    // engines, tie order (df DESC, gram ASC) replayed verbatim
    "t33_boilerplate" ->
      s"""WITH sh AS (SELECT doc_id, source, unnest($sqlShingles) AS gram
                      FROM documents),
            dfq AS (SELECT source, gram, count(*) AS df FROM sh GROUP BY 1, 2),
            top AS (SELECT source, gram, df FROM (
                      SELECT *, row_number() OVER (
                        PARTITION BY source ORDER BY df DESC, gram) AS rn
                      FROM dfq) WHERE rn = 1),
            fl AS (SELECT sh.source, count(DISTINCT sh.doc_id) AS n_flagged
                   FROM sh JOIN top USING (source, gram) GROUP BY 1),
            nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
          SELECT nd.source, top.gram AS template_gram,
                 CAST(top.df AS BIGINT) AS template_df,
                 CAST(nd.n_docs AS BIGINT) AS n_docs,
                 CAST(coalesce(fl.n_flagged, 0) AS BIGINT) AS n_flagged,
                 CAST(coalesce(fl.n_flagged, 0) AS DOUBLE) / nd.n_docs
                   AS flag_rate
          FROM nd JOIN top USING (source) LEFT JOIN fl USING (source)""",
    // t21's hash algebra (bit-5 sign, mod-32 bucket) + the second FNV
    // draw over the bucket string for the weight; all-integer until the
    // one score division, so the replay is exact
    "t27_quality_classifier" -> {
      val hu = fnvSql("term")
      val wb = fnvSql(s"CAST(CAST(($hu) % 32 AS BIGINT) AS VARCHAR)")
      s"""WITH tk AS (SELECT doc_id, unnest($sqlToks) AS term FROM documents),
         tw AS (SELECT doc_id,
                  (CAST((($hu) // CAST(32 AS HUGEINT)) % 2 AS BIGINT) * 2 - 1)
                  * (CAST((($wb) // CAST(128 AS HUGEINT)) % 2048 AS BIGINT)
                     - 1024) AS sw
                FROM tk),
         st AS (SELECT doc_id, count(*) AS n_tokens,
                  CAST(SUM(sw) AS BIGINT) AS num
                FROM tw GROUP BY 1)
         SELECT d.doc_id,
                COALESCE(st.n_tokens, 0) AS n_tokens,
                COALESCE(CAST(st.num AS DOUBLE)
                  / CAST(st.n_tokens * 1024 AS DOUBLE), 0.0) AS score,
                COALESCE(CAST(st.num AS DOUBLE)
                  / CAST(st.n_tokens * 1024 AS DOUBLE), 0.0) > 0.0 AS keep
         FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id"""
    },
    "t20_pack_sequences" ->
      s"""WITH toks AS (SELECT doc_id, CAST(len($sqlToks) AS BIGINT) AS ntk
                        FROM documents WHERE len($sqlToks) > 0),
         o AS (SELECT doc_id, ntk,
                 CAST(SUM(ntk) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ntk
                   AS BIGINT) AS off
               FROM toks),
         w AS (SELECT doc_id, ntk, off,
                 unnest(range(off // 512, (off + ntk - 1) // 512 + 1)) AS window_id
               FROM o)
         SELECT doc_id, window_id,
                greatest(0, window_id * 512 - off) AS start_tok,
                least(ntk, (window_id + 1) * 512 - off)
                  - greatest(0, window_id * 512 - off) AS n_toks
         FROM w""",
    "t19_lm_score" ->
      s"""WITH tk AS (SELECT doc_id, $sqlToks AS tks FROM documents),
         pp AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(tks)),
                    i -> struct_pack(pos := i, w1 := tks[i], w2 := tks[i+1]))) AS e
                FROM tk WHERE len(tks) >= 2),
         p AS (SELECT doc_id, e.pos AS pos, e.w1 AS w1, e.w2 AS w2 FROM pp),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM p GROUP BY 1, 2),
         c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
         model AS (SELECT w1, w2, CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p_cond
                   FROM c2 JOIN c1 USING (w1)),
         sc AS (SELECT doc_id, count(*) AS n_pairs,
                  list_reduce(list_prepend(0.0, list(p_cond ORDER BY pos)),
                    (a, x) -> a + x) / count(*) AS lm_score
                FROM p JOIN model USING (w1, w2) GROUP BY 1)
         SELECT d.doc_id,
                COALESCE(n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
                COALESCE(lm_score, 0.0) AS lm_score
         FROM documents d LEFT JOIN sc USING (doc_id)""",
    "t18_weighted_sample" ->
      """WITH c AS (SELECT doc_id, n_chars,
                      SUM(n_chars) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
                    FROM documents),
         t AS (SELECT max(cw) AS tw FROM c)
         SELECT doc_id, n_chars FROM c, t
         WHERE (cw * 50) // tw > ((cw - n_chars) * 50) // tw""",
    "t17_bigram_lm" ->
      s"""WITH tk AS (SELECT $sqlToks AS tks FROM documents),
            p AS (SELECT unnest(list_transform(range(1, len(tks)),
                    i -> struct_pack(w1 := tks[i], w2 := tks[i+1]))) AS pr
                  FROM tk WHERE len(tks) >= 2),
            c2 AS (SELECT pr.w1 AS w1, pr.w2 AS w2, count(*) AS c2 FROM p GROUP BY 1, 2),
            c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1)
          SELECT w1, w2, c2,
                 CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p_cond
          FROM c2 JOIN c1 USING (w1)
          ORDER BY c2 DESC, w1, w2 LIMIT 30""",
    "t15_mix_weights" ->
      s"""WITH per AS (SELECT source, count(*) AS n_docs,
                         CAST(SUM(len($sqlToks)) AS BIGINT) AS n_tokens
                       FROM documents GROUP BY 1),
            w AS (SELECT source, n_docs, n_tokens,
                    sqrt(CAST(n_tokens AS DOUBLE)) AS w_raw FROM per),
            dn AS (SELECT list_reduce(list_prepend(0.0, list(w_raw ORDER BY source)),
                     (a, x) -> a + x) AS denom FROM w)
          SELECT source, n_docs, n_tokens, w_raw / denom AS weight FROM w, dn""",
    "t16_phrase_search" ->
      s"""WITH tk AS (SELECT doc_id, $sqlToks AS tks FROM documents),
            p AS (SELECT doc_id, unnest(list_transform(range(1, len(tks)),
                    i -> tks[i] || ' ' || tks[i+1])) AS pair FROM tk)
          SELECT doc_id, count(*) AS n_matches FROM p
          WHERE pair = 'fast merge' GROUP BY 1""",
    "g03_label_centroid_sim" ->
      s"""WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
         pe AS (SELECT label, vec_id,
                  CAST(unnest(range(0, len(v))) AS INT) AS dim, unnest(v) AS val
                FROM e),
         cells AS (SELECT label, dim,
                     list_reduce(list_prepend(0.0, list(val ORDER BY vec_id)),
                       (p, q) -> p + q) / count(*) AS m
                   FROM pe GROUP BY 1, 2),
         cents AS (SELECT label, list(m ORDER BY dim) AS c FROM cells GROUP BY 1)
         SELECT a.label AS label_a, b.label AS label_b,
                ${cosineSql("a.c", "b.c")} AS cos_sim
         FROM cents a JOIN cents b ON a.label < b.label""",
    "e04_kmeans_step" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            d AS (SELECT vec_id, v, ${centroidDotsSql("v", 64, 16)} AS dots FROM e),
            a AS (SELECT vec_id, v,
                    CAST(list_position(dots, list_aggregate(dots, 'max')) AS INT) AS cid
                  FROM d),
            pe AS (SELECT cid, vec_id,
                     CAST(unnest(range(0, len(v))) AS INT) AS dim,
                     unnest(v) AS val
                   FROM a),
            g AS (SELECT cid, dim, COUNT(*) AS n_members,
                    list_reduce(list_prepend(0.0, list(val ORDER BY vec_id)),
                                (p, q) -> p + q) AS sum_val
                  FROM pe GROUP BY 1, 2)
          SELECT cid AS centroid_id, dim, n_members,
                 sum_val / n_members AS mean_val
          FROM g""",
    "s04_knn_join" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            p AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                    ${cosineSql("a.v", "b.v")} AS score
                  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
            r AS (SELECT vec_id, neighbor_id, score,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY score DESC, neighbor_id) AS rn
                  FROM p)
          SELECT vec_id, neighbor_id, score FROM r WHERE rn <= 3""",
    "m03_frame_sample" ->
      s"""WITH f AS (SELECT doc_id, text,
                       unnest(range(0, CAST(floor(length(text) / 16) AS BIGINT), 4)) AS frame_idx
                     FROM documents WHERE length(text) >= 16),
            fr AS (SELECT doc_id, frame_idx,
                     substring(text, CAST(frame_idx * 16 + 1 AS INT), 16) AS frame
                   FROM f)
          SELECT doc_id, frame_idx,
                 ${signedSql(fnvSql("frame"))} AS frame_checksum
          FROM fr""",
    "d01_dedup_exact" ->
      s"""SELECT md5(array_to_string($sqlToks, ' ')) AS fingerprint,
                 min(doc_id) AS keep_id, count(*) AS n_copies
          FROM documents GROUP BY 1""",
    // replays the aHash at the PIXEL level: regenerate the deterministic
    // PPM pixels (text bytes cycled), luminance by integer div, the 8×8
    // nearest-neighbor sample grid, and the no-division mean compare
    // (lum·64 ≥ Σ), packed with e06's bit-63-as-MinValue trick
    "m05_image_phash" ->
      s"""WITH d AS (SELECT doc_id,
              CAST(8 + doc_id % 9 AS INT) AS w,
              CAST(8 + doc_id % 7 AS INT) AS h,
              list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)) AS tb
            FROM documents),
          p AS (SELECT doc_id, w, h,
              list_transform(range(0, w * h * 3),
                i -> coalesce(tb[(i % greatest(len(tb), 1)) + 1], 0)) AS px
            FROM d),
          l AS (SELECT doc_id, w, h,
              list_transform(range(0, w * h), k ->
                (px[3 * k + 1] + px[3 * k + 2] + px[3 * k + 3]) // 3) AS lum
            FROM p),
          sm AS (SELECT doc_id,
              list_transform(range(0, 64), k ->
                lum[((k // 8) * h // 8) * w + ((k % 8) * w // 8) + 1]) AS smp
            FROM l),
          ag AS (SELECT doc_id, smp, list_sum(smp) AS s FROM sm)
          SELECT doc_id,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(0, 64), k ->
                CASE WHEN smp[k + 1] * 64 >= s THEN
                  CASE WHEN k = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                       ELSE CAST(power(2, k) AS BIGINT) END
                ELSE CAST(0 AS BIGINT) END)),
              (a, x) -> a + x) AS phash
          FROM ag""",
    // m05's pixel-level replay applied per FRAME (48-char slices, dims
    // still keyed by doc_id), then the consecutive-frame hamming via a
    // lag window — bit_count is TINYINT in DuckDB, cast to match Spark
    "m06_scene_cut" ->
      s"""WITH $frameHashSql
          SELECT doc_id, frame_idx,
                 CAST(bit_count(xor(phash, prev)) AS INT) AS hamming,
                 CAST(bit_count(xor(phash, prev)) AS INT) >= $SceneCutHamming AS is_cut
          FROM lg WHERE prev IS NOT NULL""",
    // video fingerprint = the SET of scene keyframe hashes; exact set
    // Jaccard over the doubled hash stream — the ground truth the
    // Spark-side MinHash-LSH path must reproduce (d04's recall regime:
    // threshold 0.8 at 32×4 banding, P(candidate) ≈ 1)
    "m10_video_neardup" ->
      s"""WITH $frameHashSql,
          kf AS (SELECT doc_id, phash FROM lg
                 WHERE prev IS NULL
                    OR CAST(bit_count(xor(phash, prev)) AS INT) >= $SceneCutHamming),
          hs AS (SELECT DISTINCT doc_id, phash FROM kf),
          sizes AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY doc_id),
          pair AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS inter
                   FROM hs a JOIN hs b
                     ON a.phash = b.phash AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
          SELECT doc_a, doc_b,
                 CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
          FROM pair
          JOIN sizes sa ON doc_a = sa.doc_id
          JOIN sizes sb ON doc_b = sb.doc_id
          WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8""",
    // replays the WAV round trip at the BYTE level: regenerate the
    // deterministic PCM samples, rebuild the exact 44-byte RIFF header +
    // little-endian sample bytes (so the checksum pins the encoder's
    // byte output, not just the decoded values), then compute what the
    // decoder extracts — integer accumulators, one divide per double
    // output, sqrt only for rms (divide and sqrt are cross-libm stable)
    "m04_audio_decode" -> {
      def le32(e: String) =
        s"[($e) % 256, (($e) // 256) % 256, (($e) // 65536) % 256, (($e) // 16777216) % 256]"
      // (the d/sm/sg sample-generation clauses are shared with m08's
      // replay via wavSamplesSql — one generator, the stages cannot drift)
      def le16(e: String) = s"[($e) % 256, (($e) // 256) % 256]"
      def ascii(s: String) = s.map(_.toLong).mkString("[", ", ", "]")
      val hdr = Seq(
        ascii("RIFF"), le32("36 + 2 * n"), ascii("WAVE"),
        ascii("fmt "), le32("16"), le16("1"), le16("1"),
        le32("rate"), le32("rate * 2"), le16("2"), le16("16"),
        ascii("data"), le32("2 * n")).mkString("(", " || ", ")")
      s"""WITH $wavSamplesSql,
          b AS (SELECT doc_id, n, rate, ss,
              list_transform(
                list_concat($hdr,
                  flatten(list_transform(us, u -> [u % 256, u // 256]))),
                x -> CAST(x AS HUGEINT)) AS payload
            FROM sg)
          SELECT doc_id,
            CAST(44 + 2 * n AS BIGINT) AS n_bytes,
            ${signedSql(s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), payload),
              (h2, b2) -> (xor(h2, b2) * CAST(1099511628211 AS HUGEINT)) % $U64)""")} AS checksum,
            CAST(rate AS INT) AS sample_rate,
            CAST(n AS INT) AS n_samples,
            CAST(list_aggregate(list_transform(ss, s2 -> abs(s2)), 'max') AS BIGINT) AS peak_amp,
            CAST(len(list_filter(range(1, n), i -> (ss[i + 1] >= 0) <> (ss[i] >= 0))) AS BIGINT)
              AS zero_crossings,
            CAST(list_sum(list_transform(ss, s2 -> abs(s2))) AS DOUBLE) / n AS mean_amp,
            sqrt(CAST(list_sum(list_transform(ss, s2 -> s2 * s2)) AS DOUBLE) / n) AS rms
          FROM b"""
    },
    // the same sample generation, windowed into exact 32-sample energy
    // sums; the integer threshold gate and the gaps-and-islands merge
    // replayed clause-for-clause
    "m08_audio_segments" ->
      s"""WITH $wavSamplesSql,
          we AS (SELECT doc_id,
                   list_transform(range(0, n // 32), w ->
                     CAST(list_sum(list_transform(range(w * 32, (w + 1) * 32),
                       i -> abs(ss[i + 1]))) AS BIGINT)) AS wins
                 FROM sg
                 WHERE n // 32 >= 1),
          wx AS (SELECT doc_id, CAST(len(wins) AS BIGINT) AS nwin,
                   CAST(list_sum(wins) AS BIGINT) AS total,
                   unnest(list_transform(range(0, len(wins)),
                     j -> {'i': j, 'w': wins[j + 1]})) AS u
                 FROM we),
          act AS (SELECT doc_id, CAST(u.i AS INT) AS win_idx, u.w AS sum_abs
                  FROM wx
                  WHERE u.w * nwin > total),
          isl AS (SELECT doc_id, win_idx, sum_abs,
                    win_idx - CAST(row_number() OVER (
                      PARTITION BY doc_id ORDER BY win_idx) AS INT) AS grp
                  FROM act),
          seg AS (SELECT doc_id, min(win_idx) AS start_win,
                    CAST(count(*) AS BIGINT) AS n_windows,
                    CAST(sum(sum_abs) AS BIGINT) AS seg_sum_abs
                  FROM isl GROUP BY doc_id, grp)
          SELECT doc_id,
                 CAST(row_number() OVER (
                   PARTITION BY doc_id ORDER BY start_win) AS INT) AS seg_id,
                 CAST(start_win AS BIGINT) AS start_win,
                 n_windows, seg_sum_abs
          FROM seg""",
    "d02_dedup_survivors" ->
      s"""SELECT doc_id, lang, source, n_chars FROM (
            SELECT doc_id, lang, source, n_chars,
                   min(doc_id) OVER (PARTITION BY md5(array_to_string($sqlToks, ' '))) AS keep
            FROM documents)
          WHERE doc_id = keep""",
    "d13_dedup_verdict" -> verdictOracle(lmGate = false),
    "d26_verdict_lm" -> verdictOracle(lmGate = true),

    "d03_jaccard_pairs" -> jaccardOracle(0.8),
    // the k-curve: g01's signature replay keyed by doc over shingle
    // strings, truncation as a j < k filter, the error mean as a
    // pair-order-pinned fold (e16's ORDER BY pattern)
    "d23_minhash_k_curve" ->
      s"""WITH pr AS (${jaccardOracle(0.6)}),
            ids AS (SELECT doc_a AS doc_id FROM pr
                    UNION SELECT doc_b FROM pr),
            sh AS (SELECT doc_id, unnest($sqlShingles) AS g
                   FROM documents JOIN ids USING (doc_id)),
            hh AS (SELECT doc_id, ${fnvSql("g")} AS hu FROM sh),
            sig AS (SELECT doc_id, j, min(${signedSql(mixSql("hu", "j"))}) AS v
                    FROM hh CROSS JOIN (SELECT unnest(range(128)) AS j)
                    GROUP BY 1, 2),
            jm AS (SELECT p.doc_a, p.doc_b, p.jaccard, sa.j,
                     (sa.v = sb.v) AS eq
                   FROM pr p
                   JOIN sig sa ON sa.doc_id = p.doc_a
                   JOIN sig sb ON sb.doc_id = p.doc_b AND sb.j = sa.j),
            ke AS (SELECT kk.k, doc_a, doc_b,
                     abs(CAST(count(*) FILTER (WHERE eq AND j < kk.k) AS DOUBLE)
                         / kk.k - jaccard) AS err
                   FROM jm CROSS JOIN (SELECT unnest([16, 32, 64, 128]) AS k) kk
                   GROUP BY kk.k, doc_a, doc_b, jaccard)
          SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(err ORDER BY doc_a, doc_b)), (p, q) -> p + q)
                   / count(*) AS mean_abs_err,
                 max(err) AS max_abs_err
          FROM ke GROUP BY k""",
    // same shingle CTEs as the jaccard oracle, containment denominator
    "d12_containment_pairs" ->
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
                 CAST(inter AS DOUBLE) / least(sa.n, sb.n) AS containment
          FROM pair
          JOIN sizes sa ON doc_a = sa.doc_id
          JOIN sizes sb ON doc_b = sb.doc_id
          WHERE CAST(inter AS DOUBLE) / least(sa.n, sb.n) >= 0.8""",
    // naive all-pairs bounded-levenshtein — feasible at the oracle gate's
    // 500-doc scale; the Spark side's filters only prune, never change
    // the result set
    // naive all-pairs levenshtein behind a SOUND char-frequency prune
    // (r16 verdict #2 — this closed the sf0.1 protocol skip): each edit
    // op changes at most 2 unit counts of the per-letter histogram and
    // at most 1 of the length, so ed(a,b) <= 8 implies
    // L1(hist_a, hist_b) <= 16 and |len_a - len_b| <= 8 — a THEOREM
    // about edit distance, independent of the engine's Pass-Join
    // pigeonhole scheme (frequency lower bound vs segment matching), so
    // the oracle still catches candidate-scheme recall bugs. Counting
    // only a-z understates the true L1 (prune is looser, never tighter);
    // levenshtein verifies every survivor. 12.5M pairs / ~17 min at
    // sf0.1 before, 375 candidates / ~12 s after — same result set.
    "d09_editdist_pairs" ->
      (s"""WITH p AS (SELECT doc_id, substring(text, 1, 160) AS pre FROM documents),
         h AS (SELECT doc_id, pre, length(pre) AS ln, """ +
        ('a' to 'z').map(ch =>
          s"length(pre) - length(replace(pre, '$ch', '')) AS c_$ch")
          .mkString(", ") +
       s""" FROM p),
         cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.pre AS pa, b.pre AS pb
                  FROM h a JOIN h b ON a.doc_id < b.doc_id
                  WHERE abs(a.ln - b.ln) <= 8
                    AND """ +
        ('a' to 'z').map(ch => s"abs(a.c_$ch - b.c_$ch)").mkString(" + ") +
       """ <= 16)
         SELECT doc_a, doc_b, CAST(levenshtein(pa, pb) AS INT) AS edit_dist
         FROM cand WHERE levenshtein(pa, pb) <= 8"""),
    "d04_minhash_lsh" -> jaccardOracle(0.8),
    // the jaccard pair CTEs restricted to cross-parity pairs (new = odd,
    // existing = even), with the new side first
    "d14_incremental_neardup" ->
      s"""WITH sh AS (
            SELECT doc_id, unnest($sqlShingles) AS s FROM documents
          ), sizes AS (
            SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
          ), pair AS (
            SELECT a.doc_id AS doc_new, b.doc_id AS doc_existing, count(*) AS inter
            FROM sh a JOIN sh b ON a.s = b.s
            WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
            GROUP BY 1, 2
          )
          SELECT doc_new, doc_existing,
                 CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
          FROM pair
          JOIN sizes sa ON doc_new = sa.doc_id
          JOIN sizes sb ON doc_existing = sb.doc_id
          WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8""",
    // duplicated 8-gram start positions merged gaps-and-islands style;
    // the oracle groups by gram STRING where Spark groups by its 64-bit
    // hash (the d03 stance: collisions only widen a span, and none occur
    // at the gate's corpus size)
    "d15_span_dedup" ->
      s"""WITH tk AS (SELECT doc_id, $sqlToks AS t FROM documents),
            pos AS (SELECT doc_id, t, unnest(range(1, len(t) - 8 + 2)) AS i
                    FROM tk WHERE len(t) >= 8),
            grams AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                             array_to_string(t[i:i+7], ' ') AS gram FROM pos),
            dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) > 1),
            hits AS (SELECT doc_id, pos FROM grams JOIN dup USING (gram)),
            brk AS (SELECT doc_id, pos,
                      CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
                           THEN 0 ELSE 1 END AS b
                    FROM hits),
            grp AS (SELECT doc_id, pos,
                      SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
                    FROM brk)
          SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
                 MAX(pos) + 8 - MIN(pos) AS span_tokens
          FROM grp GROUP BY doc_id, gid""",
    // transitive closure over the pair graph; component = min reachable id
    "d06_neardup_groups" ->
      s"""WITH RECURSIVE pr AS (${jaccardOracle(0.8)}),
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
                      UNION ALL SELECT doc_b, doc_a FROM pr),
            reach(src, dst) AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
          SELECT src AS doc_id, least(src, min(dst)) AS component
          FROM reach GROUP BY src""",
    "d07_cluster_keep" ->
      s"""WITH RECURSIVE pr AS (${jaccardOracle(0.8)}),
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
                      UNION ALL SELECT doc_b, doc_a FROM pr),
            reach(src, dst) AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
            comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
                     FROM reach GROUP BY src),
            labeled AS (SELECT d.doc_id, d.n_chars,
                               COALESCE(c.component, d.doc_id) AS component
                        FROM documents d LEFT JOIN comp c USING (doc_id)),
            ranked AS (SELECT component, doc_id,
                              row_number() OVER (PARTITION BY component
                                ORDER BY n_chars DESC, doc_id) AS rn,
                              count(*) OVER (PARTITION BY component) AS n_docs
                       FROM labeled)
          SELECT component, doc_id AS keep_id, n_docs FROM ranked WHERE rn = 1""",
    "e01_embedding_neardup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 ${cosineSql("a.v", "b.v")} AS score
          FROM e a JOIN e b ON a.vec_id < b.vec_id
          WHERE ${cosineSql("a.v", "b.v")} >= 0.45""",
    "e06_binary_quantize" -> {
      val packSql = (v: String) =>
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(list_zip($v, range(0, 64)),
              p -> CASE WHEN p[1] >= 0 THEN
                     CASE WHEN p[2] = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                          ELSE CAST(power(2, p[2]) AS BIGINT) END
                   ELSE CAST(0 AS BIGINT) END)),
            (a, x) -> a + x)"""
      s"""WITH e AS (SELECT vec_id,
                       ${packSql("CAST(embedding AS DOUBLE[])")} AS bq
                     FROM embeddings),
            q AS (SELECT bq AS qbq FROM e WHERE vec_id = 0)
          SELECT vec_id, bq, CAST(bit_count(xor(bq, qbq)) AS INT) AS hamming
          FROM e, q
          ORDER BY hamming, vec_id LIMIT 10"""
    },
    // SemDeDup replay: e03's centroid assignment, within-cluster cosine
    // pairs, min-id keep rule
    "e07_semdedup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            d AS (SELECT vec_id, v, ${centroidDotsSql("v", 64, 16)} AS dots FROM e),
            a AS (SELECT vec_id, v,
                    CAST(list_position(dots, list_aggregate(dots, 'max')) AS INT)
                      AS centroid_id
                  FROM d),
            drp AS (SELECT DISTINCT y.vec_id
                    FROM a x JOIN a y
                      ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
                    WHERE ${cosineSql("x.v", "y.v")} >= 0.45)
          SELECT a.vec_id, a.centroid_id,
                 (a.vec_id NOT IN (SELECT vec_id FROM drp)) AS kept
          FROM a""",
    // centroid norms recomputed from the same literals with the same
    // left-to-right fold the Scala side bakes into its plan-time
    // constants — the division structure matches term for term
    "e09_prototype_prune" -> {
      val cnormList = (0 until 16).map(c =>
        s"""sqrt(list_reduce(list_transform(${centroidSqlLiteral(c, 64)},
            y -> y * y), (p, q) -> p + q))""").mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            d AS (SELECT vec_id, v, ${centroidDotsSql("v", 64, 16)} AS dots FROM e),
            a AS (SELECT vec_id,
                    CAST(list_position(dots, list_aggregate(dots, 'max')) AS INT)
                      AS centroid_id,
                    list_aggregate(dots, 'max') AS best_dot,
                    sqrt(list_reduce(list_transform(v, y -> y * y), (p, q) -> p + q))
                      AS nrm
                  FROM d),
            sc AS (SELECT vec_id, centroid_id,
                     best_dot / (nrm * list_extract($cnormList, centroid_id))
                       AS proto_cos
                   FROM a),
            r AS (SELECT vec_id, centroid_id, proto_cos,
                    row_number() OVER (PARTITION BY centroid_id
                                       ORDER BY proto_cos DESC, vec_id) AS rn,
                    count(*) OVER (PARTITION BY centroid_id) AS n_c
                  FROM sc)
          SELECT vec_id, centroid_id, proto_cos, rn > ceil(0.2 * n_c) AS kept
          FROM r"""
    },
    // e09's scoring replay with the opposite tail: rank ascending and
    // keep the 5 per cluster (the bounded-heap pick's window twin)
    "e14_diverse_sample" -> {
      val cnormList = (0 until 16).map(c =>
        s"""sqrt(list_reduce(list_transform(${centroidSqlLiteral(c, 64)},
            y -> y * y), (p, q) -> p + q))""").mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            d AS (SELECT vec_id, v, ${centroidDotsSql("v", 64, 16)} AS dots FROM e),
            a AS (SELECT vec_id,
                    CAST(list_position(dots, list_aggregate(dots, 'max')) AS INT)
                      AS centroid_id,
                    list_aggregate(dots, 'max') AS best_dot,
                    sqrt(list_reduce(list_transform(v, y -> y * y), (p, q) -> p + q))
                      AS nrm
                  FROM d),
            sc AS (SELECT vec_id, centroid_id,
                     best_dot / (nrm * list_extract($cnormList, centroid_id))
                       AS proto_cos
                   FROM a),
            r AS (SELECT vec_id, centroid_id, proto_cos,
                    row_number() OVER (PARTITION BY centroid_id
                                       ORDER BY proto_cos ASC, vec_id) AS rn
                  FROM sc)
          SELECT vec_id, centroid_id, proto_cos
          FROM r WHERE rn <= 5"""
    },
    // the moment identity replayed term-for-term: vec_id-ordered norm²
    // fold, per-(label, dim) vec_id-ordered sums, dim-ordered square
    // fold, the same explicit numerator/denominator association
    "e16_alignment" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
          pv AS (SELECT label, vec_id, ${dotSql("v", "v")} AS nsq FROM e),
          ssq AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
                    list_reduce(list_prepend(0.0, list(nsq ORDER BY vec_id)),
                                (p, q) -> p + q) AS ssq
                  FROM pv GROUP BY label),
          pe AS (SELECT label, vec_id,
                   CAST(unnest(range(0, len(v))) AS INT) AS dim,
                   unnest(v) AS val
                 FROM e),
          sd AS (SELECT label, dim,
                   list_reduce(list_prepend(0.0, list(val ORDER BY vec_id)),
                               (p, q) -> p + q) AS sd
                 FROM pe GROUP BY label, dim),
          s2 AS (SELECT label,
                   list_reduce(list_prepend(0.0, list(sd * sd ORDER BY dim)),
                               (p, q) -> p + q) AS s2
                 FROM sd GROUP BY label)
          SELECT ssq.label, ssq.n AS n_vecs,
                 (2.0 * ssq.n * ssq.ssq - 2.0 * s2.s2)
                   / CAST(ssq.n * (ssq.n - 1) AS DOUBLE) AS mean_pair_sqdist
          FROM ssq JOIN s2 ON s2.label = ssq.label""",
    // the three reconstruction algebras replayed term-for-term (same
    // staged scales, same left-to-right folds), per-label means over
    // vec_id-ordered error lists
    "e15_quant_error" -> {
      val pqErr = (0 until 8).map { mi =>
        val sub = s"list_slice(v, ${mi * 8 + 1}, ${(mi + 1) * 8})"
        "least(" + (0 until 16).map(c =>
          l2Sql(sub, centroidSqlLiteral(1000 + mi * 16 + c, 8))).mkString(", ") + ")"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
          a AS (SELECT vec_id, label, v,
                  list_reduce(list_prepend(0.0, v),
                    (p, q) -> greatest(p, abs(q))) AS max_abs
                FROM e),
          b AS (SELECT vec_id, label, v,
                  127.0 / greatest(max_abs, 1e-30) AS s8,
                  greatest(max_abs, 1e-30) / 127.0 AS inv8,
                  list_reduce(list_prepend(0.0, v), (p, q) -> p + abs(q)) / 64
                    AS alpha
                FROM a),
          c AS (SELECT vec_id, label, v, inv8, alpha,
                  list_transform(v, x -> CAST(floor(x * s8 + 0.5) AS INT)) AS q8
                FROM b),
          d AS (SELECT vec_id, label,
                  list_reduce(list_prepend(0.0,
                    list_transform(list_zip(v, q8), p ->
                      (p[1] - CAST(p[2] AS DOUBLE) * inv8)
                      * (p[1] - CAST(p[2] AS DOUBLE) * inv8))),
                    (p, q) -> p + q) AS e_int8,
                  $pqErr AS e_pq,
                  list_reduce(list_prepend(0.0,
                    list_transform(v, x ->
                      (x - alpha * (CASE WHEN x >= 0 THEN 1.0 ELSE -1.0 END))
                      * (x - alpha * (CASE WHEN x >= 0 THEN 1.0 ELSE -1.0 END)))),
                    (p, q) -> p + q) AS e_bin
                FROM c)
          SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
                 list_reduce(list_prepend(0.0, list(e_int8 ORDER BY vec_id)),
                   (p, q) -> p + q) / count(*) AS mse_int8,
                 list_reduce(list_prepend(0.0, list(e_pq ORDER BY vec_id)),
                   (p, q) -> p + q) / count(*) AS mse_pq,
                 list_reduce(list_prepend(0.0, list(e_bin ORDER BY vec_id)),
                   (p, q) -> p + q) / count(*) AS mse_binary
          FROM d GROUP BY label"""
    },
    // JL replay: the 16 plane dot folds regenerated as literals, same
    // 0.25 power-of-two scale
    "e08_jl_projection" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
          SELECT vec_id, ${(0 until 16).map(p =>
            f"${dotSql("v", planeSqlLiteral(p, 64))} * 0.25 AS p$p%02d").mkString(", ")}
          FROM e""",
    // replays the power-iteration step with the SAME operation order:
    // per-dim ordered sums (ORDER BY vec_id / dim mirror the Spark
    // array_sort-then-fold pins), products formed before the fold, and
    // only divide/sqrt at the end (both correctly-rounded per IEEE754,
    // so cross-libm safe; ln/pow never appear)
    "e10_power_iteration" -> {
      val v0Lit = (1 to 64).map(i => s"$i.0").mkString("[", ",", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            pe AS (SELECT vec_id, CAST(unnest(range(0, len(v))) AS INT) AS dim,
                     unnest(v) AS val
                   FROM e),
            mu AS (SELECT dim,
                     list_reduce(list_prepend(0.0, list(val ORDER BY vec_id)),
                       (a, x) -> a + x) / count(*) AS m
                   FROM pe GROUP BY 1),
            mv AS (SELECT list(m ORDER BY dim) AS marr FROM mu),
            cx AS (SELECT vec_id,
                     list_transform(list_zip(v, marr), x -> x[1] - x[2]) AS c
                   FROM e, mv),
            dt AS (SELECT vec_id, c, ${dotSql("c", v0Lit)} AS d FROM cx),
            pc AS (SELECT vec_id, d, CAST(unnest(range(0, len(c))) AS INT) AS dim,
                     unnest(c) AS cval
                   FROM dt),
            u AS (SELECT dim,
                    list_reduce(list_prepend(0.0, list(cval * d ORDER BY vec_id)),
                      (a, x) -> a + x) AS uval
                  FROM pc GROUP BY 1),
            nrm AS (SELECT sqrt(
                      list_reduce(list_prepend(0.0, list(uval * uval ORDER BY dim)),
                        (a, x) -> a + x)) AS un
                    FROM u)
          SELECT dim, uval / un AS pc_loading, un / sqrt(89440.0) AS eigenvalue
          FROM u, nrm"""
    },
    // RRF fusion replay: t13's BM25 clauses + s01's cosine scan, both
    // truncated to 50 candidates, ranked, full-outer fused with k=60
    "s09_hybrid_rrf" ->
      s"""WITH $bm25WithClauses,
            spt AS (SELECT doc_id AS id, score FROM sc
                    ORDER BY score DESC, doc_id LIMIT 50),
            sp AS (SELECT id,
                     CAST(row_number() OVER (ORDER BY score DESC, id) AS INT)
                       AS rank_sparse
                   FROM spt),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
            dnt AS (SELECT e.vec_id AS id, ${cosineSql("e.v", "q.qv")} AS score
                    FROM e, q
                    ORDER BY score DESC, e.vec_id LIMIT 50),
            dn AS (SELECT id,
                     CAST(row_number() OVER (ORDER BY score DESC, id) AS INT)
                       AS rank_dense
                   FROM dnt)
          SELECT COALESCE(sp.id, dn.id) AS doc_id, rank_sparse, rank_dense,
                 COALESCE(CAST(1.0 AS DOUBLE) / (60 + rank_sparse), 0.0)
                 + COALESCE(CAST(1.0 AS DOUBLE) / (60 + rank_dense), 0.0)
                   AS rrf_score
          FROM sp FULL JOIN dn ON sp.id = dn.id
          ORDER BY rrf_score DESC, doc_id LIMIT 10""",
    "s05_mips" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            m AS (SELECT max(sqrt(${dotSql("v", "v")})) AS mnorm FROM e),
            q AS (SELECT v AS qv, ${dotSql("v", "v")} AS qnsq FROM e WHERE vec_id = 1),
            sc AS (SELECT vec_id, ${dotSql("e.v", "q.qv")} AS ip FROM e, q)
          SELECT vec_id, ip FROM sc, m, q
          ORDER BY ip / (m.mnorm * sqrt(q.qnsq)) DESC, vec_id LIMIT 10""",
    "s01_cosine_topk" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
               e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
          SELECT e.vec_id, ${cosineSql("e.v", "q.qv")} AS score
          FROM e, q
          ORDER BY score DESC, e.vec_id LIMIT 10""",
    // prefilter = exact top-10 of the label subset; postfilter = label
    // survivors of the global top-50, re-cut to 10 — same cosine, same
    // (score DESC, vec_id) tie order as s01
    "s17_filtered_topk" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv, label AS ql
                     FROM embeddings WHERE vec_id = 0),
               e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
            pre AS (SELECT 'prefilter' AS method, e.vec_id,
                           ${cosineSql("e.v", "q.qv")} AS score
                    FROM e, q WHERE e.label = q.ql
                    ORDER BY score DESC, e.vec_id LIMIT 10),
            g50 AS (SELECT e.vec_id, e.label,
                           ${cosineSql("e.v", "q.qv")} AS score
                    FROM e, q
                    ORDER BY score DESC, e.vec_id LIMIT 50),
            post AS (SELECT 'postfilter' AS method, p.vec_id, p.score
                     FROM g50 p, q WHERE p.label = q.ql
                     ORDER BY score DESC, p.vec_id LIMIT 10)
          SELECT * FROM pre UNION ALL SELECT * FROM post""",
    // PQ-ADC replayed in SQL: sub-centroids are the 16 lowest-vec_id
    // vectors gathered into one ordered list; per subspace, dists/qdots
    // are list_transform over that list with e05's exact fold shapes,
    // the code is the FIRST minimum's position (Spark's array_position
    // tie rule), and the ADC score sums the LUT entries left-to-right
    "s08_pq_adc_topk" -> {
      val m = 16; val dsub = 4; val ksub = 16; val nCand = 192
      def sub(v: String, mi: Int) =
        s"list_slice($v, ${mi * dsub + 1}, ${mi * dsub + dsub})"
      val adc = (0 until m).map { mi =>
        val dists = s"list_transform(s.svs, cc -> ${l2Sql(sub("e.v", mi), sub("cc", mi))})"
        val qdots = s"list_transform(s.svs, cc -> ${dotSql(sub("q.qv", mi), sub("cc", mi))})"
        s"list_extract($qdots, list_position($dists, list_aggregate($dists, 'min')))"
      }.mkString("(", " + ", ")")
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
            s AS (SELECT list(sv ORDER BY vec_id) AS svs FROM
                    (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS sv
                     FROM embeddings ORDER BY vec_id LIMIT $ksub)),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            cand AS (SELECT e.vec_id, e.v, q.qv, $adc AS adc
                     FROM e, q, s
                     ORDER BY adc DESC, e.vec_id LIMIT $nCand)
          SELECT vec_id, ${cosineSql("v", "qv")} AS score
          FROM cand ORDER BY score DESC, vec_id LIMIT 10"""
    },
    "t01_token_count" ->
      s"SELECT doc_id, CAST(len($sqlToks) AS INT) AS n_tokens FROM documents",
    // DuckDB string literals are escape-free, so the Java regex drops in
    // verbatim (RE2 and java.util.regex agree on this pattern class)
    "t05_token_bpe" ->
      s"""SELECT doc_id, CAST(len(regexp_extract_all(lower(text),
            '${TF.bpePattern}')) AS INT) AS n_bpe
          FROM documents""",
    // same per-row counts and guarded cast-then-divide sequences
    "t34_token_fertility" ->
      s"""WITH c AS (SELECT source,
                       CAST(length(text) AS BIGINT) AS nc,
                       CAST(len($sqlToks) AS BIGINT) AS nw,
                       CAST(len(regexp_extract_all(lower(text),
                         '${TF.bpePattern}')) AS BIGINT) AS nb
                     FROM documents),
            ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(nw) AS BIGINT) AS n_words,
                     CAST(sum(nb) AS BIGINT) AS n_bpe,
                     CAST(sum(nc) AS BIGINT) AS n_chars
                   FROM c GROUP BY 1)
          SELECT source, n_docs, n_words, n_bpe,
                 CASE WHEN n_words > 0
                      THEN CAST(n_bpe AS DOUBLE) / CAST(n_words AS DOUBLE)
                      ELSE 0.0 END AS fertility,
                 CASE WHEN n_bpe > 0
                      THEN CAST(n_chars AS DOUBLE) / CAST(n_bpe AS DOUBLE)
                      ELSE 0.0 END AS chars_per_token
          FROM ag""",
    "t02_quality" ->
      s"""SELECT doc_id,
            CAST(length(text) AS INT) AS n_chars_calc,
            CAST(len($sqlToks) AS INT) AS n_tokens,
            CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
              / greatest(length(text), 1) AS punct_ratio,
            CAST(len(list_filter($sqlToks,
                 x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE)
              / greatest(len($sqlToks), 1) AS stopword_ratio,
            CAST(len(list_distinct($sqlToks)) AS DOUBLE)
              / greatest(len($sqlToks), 1) AS ttr
          FROM documents""",
    "t06_quality_filter" ->
      s"""SELECT doc_id, ($t06Sql) AS keep FROM documents""",
    "t23_ngram_novelty" ->
      s"""WITH g AS (SELECT doc_id, unnest($sqlShingles) AS gram FROM documents),
            df AS (SELECT gram, count(*) AS df FROM g GROUP BY 1),
            p AS (SELECT doc_id, count(*) AS n_grams,
                    CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_dup_grams
                  FROM g JOIN df USING (gram) GROUP BY 1)
          SELECT doc_id, n_grams, n_dup_grams,
                 CAST(1.0 AS DOUBLE) - CAST(n_dup_grams AS DOUBLE)
                   / CAST(n_grams AS DOUBLE) AS novelty
          FROM p""",
    "t22_langid_eval" ->
      s"""WITH v AS (
            SELECT doc_id, lang,
              len(list_filter($sqlToks, x -> list_contains(['the','and','of'], x))) AS en,
              len(list_filter($sqlToks, x -> list_contains(['der','und','die'], x))) AS de,
              len(list_filter($sqlToks, x -> list_contains(['le','et','la'], x))) AS fr,
              len(list_filter($sqlToks, x -> list_contains(['el','y','los'], x))) AS es
            FROM documents),
         p AS (SELECT doc_id, lang,
                 CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
                      WHEN en = greatest(en, de, fr, es) THEN 'en'
                      WHEN de = greatest(en, de, fr, es) THEN 'de'
                      WHEN fr = greatest(en, de, fr, es) THEN 'fr'
                      ELSE 'es' END AS lang_pred
               FROM v),
         conf AS (SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY 1, 2),
         g AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_gold FROM conf GROUP BY 1),
         pr AS (SELECT lang_pred, CAST(SUM(n) AS BIGINT) AS n_pred FROM conf GROUP BY 1)
         SELECT conf.lang, conf.lang_pred, conf.n,
                CASE WHEN conf.lang = conf.lang_pred
                     THEN CAST(conf.n AS DOUBLE) / CAST(pr.n_pred AS DOUBLE) END AS precision,
                CASE WHEN conf.lang = conf.lang_pred
                     THEN CAST(conf.n AS DOUBLE) / CAST(g.n_gold AS DOUBLE) END AS recall
         FROM conf JOIN g USING (lang) JOIN pr USING (lang_pred)""",
    "t03_lang_id" ->
      s"""WITH v AS (
            SELECT doc_id,
              len(list_filter($sqlToks, x -> list_contains(['the','and','of'], x))) AS en,
              len(list_filter($sqlToks, x -> list_contains(['der','und','die'], x))) AS de,
              len(list_filter($sqlToks, x -> list_contains(['le','et','la'], x))) AS fr,
              len(list_filter($sqlToks, x -> list_contains(['el','y','los'], x))) AS es
            FROM documents)
          SELECT doc_id,
            CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
                 WHEN en = greatest(en, de, fr, es) THEN 'en'
                 WHEN de = greatest(en, de, fr, es) THEN 'de'
                 WHEN fr = greatest(en, de, fr, es) THEN 'fr'
                 ELSE 'es' END AS lang_pred
          FROM v""",
    "t07_pii_scrub" ->
      s"""SELECT doc_id,
            ${TF.piiClasses.take(2).foldLeft(
              """text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or +1-555-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')""")(
              scrubClassSql)} AS clean
          FROM documents""",
    // detection counts + the five-class scrub over the same injected text
    "t35_pii_audit" ->
      s"""WITH tp AS (SELECT doc_id, $piiInjectSql AS t FROM documents)
          SELECT doc_id,
                 ${TF.piiClasses.map(c =>
                   countSql("t", c) + s" AS n_${c.label.toLowerCase}")
                   .mkString(",\n                 ")},
                 ${scrubSql("t")} AS clean
          FROM tp""",
    // staged CTEs: one pseudoSql pass per class, exactly the Spark-side
    // sub(sub(text, EMAIL), PHONE) composition
    "t36_pii_pseudonymize" ->
      s"""WITH tp AS (SELECT doc_id, $linkInjectSql AS t FROM documents),
          p1 AS (SELECT doc_id,
                   ${pseudoSql("t", TF.piiClasses(0), fnvTagSql("EMAIL"))} AS t
                 FROM tp)
          SELECT doc_id,
                 ${pseudoSql("t", TF.piiClasses(1), fnvTagSql("PHONE"))} AS pseudo
          FROM p1""",
    // t36's pseudonymized corpus filtered to the one identifier's tag
    // (re-derived from scratch: fnv64 over 'key|audit@example.net'),
    // tag erased
    "t37_rtbf_forget" ->
      s"""WITH tp AS (SELECT doc_id, $linkInjectSql AS t FROM documents),
          p1 AS (SELECT doc_id,
                   ${pseudoSql("t", TF.piiClasses(0), fnvTagSql("EMAIL"))} AS t
                 FROM tp),
          q AS (SELECT doc_id,
                  ${pseudoSql("t", TF.piiClasses(1), fnvTagSql("PHONE"))} AS pseudo
                FROM p1),
          tag AS (SELECT ${fnvTagSql("EMAIL")("'audit@example.net'")} AS tg)
          SELECT doc_id, replace(pseudo, tg, '<FORGOTTEN>') AS pseudo
          FROM q, tag WHERE contains(pseudo, tg)""",
    // the MAC variant: same staged composition, nested-sha256 tags
    "t38_pii_mac" ->
      s"""WITH tp AS (SELECT doc_id, $linkInjectSql AS t FROM documents),
          p1 AS (SELECT doc_id,
                   ${pseudoSql("t", TF.piiClasses(0), macTagSql("EMAIL"))} AS t
                 FROM tp)
          SELECT doc_id,
                 ${pseudoSql("t", TF.piiClasses(1), macTagSql("PHONE"))} AS pseudo
          FROM p1""",
    // t38's MAC corpus filtered to the deletion target's tag (re-derived
    // from scratch: nested sha256 over 'key|audit@example.net'), tag
    // erased — the release-grade RTBF twin of t37
    "t40_rtbf_mac_forget" ->
      s"""WITH tp AS (SELECT doc_id, $linkInjectSql AS t FROM documents),
          p1 AS (SELECT doc_id,
                   ${pseudoSql("t", TF.piiClasses(0), macTagSql("EMAIL"))} AS t
                 FROM tp),
          q AS (SELECT doc_id,
                  ${pseudoSql("t", TF.piiClasses(1), macTagSql("PHONE"))} AS pseudo
                FROM p1),
          tag AS (SELECT ${macTagSql("EMAIL")("'audit@example.net'")} AS tg)
          SELECT doc_id, replace(pseudo, tg, '<FORGOTTEN>') AS pseudo
          FROM q, tag WHERE contains(pseudo, tg)""",
    // the batch ledger over t36's corpus: three tag constants re-derived
    // from the ledger literals, the replace fold over all of them
    // (order-free — tags are disjoint complete spans), linked = any tag
    "t41_rtbf_batch" ->
      s"""WITH tp AS (SELECT doc_id, $linkInjectSql AS t FROM documents),
          p1 AS (SELECT doc_id,
                   ${pseudoSql("t", TF.piiClasses(0), fnvTagSql("EMAIL"))} AS t
                 FROM tp),
          q AS (SELECT doc_id,
                  ${pseudoSql("t", TF.piiClasses(1), fnvTagSql("PHONE"))} AS pseudo
                FROM p1),
          ${rtbfBatchSql(fnvTagSql)}""",
    // the same ledger over t38's MAC corpus
    "t42_rtbf_batch_mac" ->
      s"""WITH tp AS (SELECT doc_id, $linkInjectSql AS t FROM documents),
          p1 AS (SELECT doc_id,
                   ${pseudoSql("t", TF.piiClasses(0), macTagSql("EMAIL"))} AS t
                 FROM tp),
          q AS (SELECT doc_id,
                  ${pseudoSql("t", TF.piiClasses(1), macTagSql("PHONE"))} AS pseudo
                FROM p1),
          ${rtbfBatchSql(macTagSql)}""",
    // the cascade audit over t36's corpus: the t41 fold widened to every
    // row (linked as a flag), fp re-derived from the REWRITTEN pseudo by
    // the d01 md5-of-tokens twin, and the embeddings purge's remaining
    // count (0 exactly on the linked set)
    "t43_rtbf_cascade" ->
      s"""WITH tp AS (SELECT doc_id, $linkInjectSql AS t FROM documents),
          p1 AS (SELECT doc_id,
                   ${pseudoSql("t", TF.piiClasses(0), fnvTagSql("EMAIL"))} AS t
                 FROM tp),
          q AS (SELECT doc_id,
                  ${pseudoSql("t", TF.piiClasses(1), fnvTagSql("PHONE"))} AS pseudo
                FROM p1),
          ${rtbfCascadeSql(fnvTagSql)}""",
    // per-family literal-fold counts over the SAME injected codepoints
    // (chr-rebuilt), keep flag = all-zero
    "t44_mojibake" ->
      s"""WITH tq AS (SELECT doc_id, $mojiInjectSql AS t FROM documents)
          SELECT doc_id,
                 ${mojiCountSql("t", TF.replacementMark)} AS n_replacement,
                 ${TF.c1Marks.map(mojiCountSql("t", _)).mkString(" + ")} AS n_c1,
                 ${TF.doubleEncodeMarks.map(mojiCountSql("t", _)).mkString(" + ")} AS n_double,
                 (${mojiCountSql("t", TF.replacementMark)}
                  + ${TF.c1Marks.map(mojiCountSql("t", _)).mkString(" + ")}
                  + ${TF.doubleEncodeMarks.map(mojiCountSql("t", _)).mkString(" + ")}) = 0 AS clean
          FROM tq""",
    // bigram LM trained on src0, scored log-free: integer truncating
    // division replays Spark's `div` exactly, ratios are one IEEE
    // divide, the keep gate is a cross-multiplied integer compare
    "t39_lm_fluency" ->
      s"""WITH tk AS (SELECT doc_id, source, $sqlToks AS tks FROM documents),
          tr AS (SELECT doc_id, source,
                   unnest(list_transform(range(1, len(tks)), i -> tks[i])) AS w1,
                   unnest(list_transform(range(1, len(tks)), i -> tks[i+1])) AS w2
                 FROM tk WHERE len(tks) >= 2),
          big AS (SELECT w1, w2, count(*) AS c2 FROM tr
                  WHERE source = 'src0' GROUP BY 1, 2),
          ctx AS (SELECT w1, count(*) AS c1 FROM tr
                  WHERE source = 'src0' GROUP BY 1),
          voc AS (SELECT count(DISTINCT t) AS v
                  FROM (SELECT unnest(tks) AS t FROM tk WHERE source = 'src0')),
          sc AS (SELECT doc_id, count(*) AS n_trans,
                   CAST(SUM(CASE WHEN big.c2 IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_hit,
                   CAST(SUM(CASE WHEN ctx.c1 IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_oov_ctx,
                   CAST(SUM((COALESCE(ctx.c1, 0) + voc.v)
                     // (COALESCE(big.c2, 0) + 1)) AS BIGINT) AS inv_p_sum
                 FROM tr CROSS JOIN voc
                   LEFT JOIN big USING (w1, w2)
                   LEFT JOIN ctx USING (w1)
                 WHERE tr.source <> 'src0' GROUP BY 1)
          SELECT d.doc_id,
                 COALESCE(n_trans, 0) AS n_trans,
                 COALESCE(n_hit, 0) AS n_hit,
                 COALESCE(n_oov_ctx, 0) AS n_oov_ctx,
                 COALESCE(inv_p_sum, 0) AS inv_p_sum,
                 COALESCE(CAST(n_hit AS DOUBLE) / n_trans, 0.0) AS hit_ratio,
                 COALESCE(CAST(inv_p_sum AS DOUBLE) / n_trans, 0.0) AS ppx_proxy,
                 (COALESCE(n_trans, 0) > 0 AND
                   COALESCE(n_hit, 0) * 4 >= COALESCE(n_trans, 0) * 3) AS keep
          FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
            LEFT JOIN sc USING (doc_id)""",
    "t08_rare_terms" ->
      s"""WITH tk AS (SELECT doc_id, unnest(list_distinct($sqlToks)) AS term
                      FROM documents),
             d AS (SELECT term, count(*) AS df FROM tk GROUP BY 1),
             r AS (SELECT tk.doc_id, tk.term, d.df,
                     row_number() OVER (PARTITION BY tk.doc_id
                                        ORDER BY d.df, tk.term) AS rn
                   FROM tk JOIN d USING (term))
          SELECT doc_id, term, df FROM r WHERE rn <= 3""",
    "t09_split_assign" ->
      s"""WITH h AS (SELECT doc_id,
             ${md5HexIntSql("CAST(doc_id AS VARCHAR)")} AS hv
           FROM documents)
         SELECT doc_id, hv % 100 AS bucket_100,
                CASE WHEN hv % 100 < 90 THEN 'train'
                     WHEN hv % 100 < 95 THEN 'val'
                     ELSE 'test' END AS split
         FROM h""",
    "t10_stratified_sample" ->
      s"""WITH h AS (SELECT doc_id, source,
             ${md5HexIntSql("CAST(doc_id AS VARCHAR)")} AS hv
           FROM documents),
           r AS (SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n_src
           FROM h)
         SELECT doc_id, source FROM r WHERE rn <= ceil(n_src * 0.1)""",
    "t24_global_shuffle" ->
      s"""WITH h AS (SELECT doc_id,
             ${md5HexIntSql("CAST(doc_id AS VARCHAR) || ':epoch0'")} AS shuffle_key
           FROM documents)
         SELECT doc_id, shuffle_key,
                row_number() OVER (ORDER BY shuffle_key, doc_id) AS pos
         FROM h""",
    // list_slice (not bracket slicing) — the bracket form returns NULL
    // on an empty list where Spark's slice returns an empty array
    "t25_rag_chunk" ->
      s"""WITH tk AS (SELECT doc_id, $sqlToks AS tks FROM documents),
            st AS (SELECT doc_id, tks,
                     unnest(range(0, greatest(len(tks) - 1, 0) + 1, 16)) AS start
                   FROM tk)
          SELECT doc_id, start // 16 AS chunk_idx, start,
                 CAST(len(list_slice(tks, start + 1, start + 32)) AS BIGINT)
                   AS n_tokens,
                 array_to_string(list_slice(tks, start + 1, start + 32), ' ')
                   AS chunk_text
          FROM st""",
    // log-free idf: (N+1)/(df+1) in one divide, products before the
    // compare — same single-IEEE-op sequence as the Spark expressions
    "t26_tfidf_keywords" ->
      s"""WITH tk AS (SELECT doc_id, unnest($sqlToks) AS term FROM documents),
            tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
                   FROM tk GROUP BY 1, 2),
            df AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
                   FROM tk GROUP BY 1),
            n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
            sc AS (SELECT tf.doc_id, tf.term,
                     tf.tf * ((n.n_docs + 1.0) / (df.df + 1.0)) AS tfidf
                   FROM tf JOIN df USING (term), n),
            r AS (SELECT doc_id, term, tfidf,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) AS rn
                  FROM sc)
          SELECT doc_id, term, tfidf FROM r WHERE rn <= 3""",
    "d08_incremental_dedup" ->
      s"""WITH f AS (SELECT doc_id, source,
                       md5(array_to_string($sqlToks, ' ')) AS fp
                     FROM documents)
          SELECT n.doc_id, n.source FROM f n
          WHERE n.source <> 'src0'
            AND NOT EXISTS (SELECT 1 FROM f e
                            WHERE e.source = 'src0' AND e.fp = n.fp)""",
    // the bloom algebra replayed relationally: FNV probe positions from
    // the md5 fingerprint, sparse (block, lane) bit_or lanes, the same
    // bit-63 signed-mask case as a06's replay, exact confirm via EXISTS
    "d17_bloom_gate" -> {
      def msk(b: String) =
        s"""CASE WHEN ($b) = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                 ELSE CAST(power(2, $b) AS BIGINT) END"""
      s"""WITH du AS (SELECT doc_id, source, text FROM documents
                      UNION ALL
                      SELECT doc_id + 100000, 're0', text FROM documents
                      WHERE source = 'src0' AND doc_id % 3 = 0),
          f AS (SELECT doc_id, source,
                  md5(array_to_string($sqlToks, ' ')) AS fp
                FROM du),
          fh AS (SELECT doc_id, source, fp, ${fnvSql("fp")} AS hu FROM f),
          pos AS (SELECT CAST(unnest([hu % 1024, (hu // 1024) % 1024]) AS BIGINT) AS p
                  FROM fh WHERE source = 'src0'),
          bloom AS (SELECT p // 64 AS block, bit_or(${msk("p % 64")}) AS lane
                    FROM pos GROUP BY p // 64),
          arr AS (SELECT doc_id, source, fp,
                    CAST(hu % 1024 AS BIGINT) AS p1,
                    CAST((hu // 1024) % 1024 AS BIGINT) AS p2
                  FROM fh WHERE source <> 'src0'),
          pr AS (SELECT a.doc_id, a.source, a.fp,
                   coalesce((b1.lane & ${msk("a.p1 % 64")}) <> 0, FALSE)
                   AND coalesce((b2.lane & ${msk("a.p2 % 64")}) <> 0, FALSE)
                     AS bloom_maybe
                 FROM arr a
                 LEFT JOIN bloom b1 ON b1.block = a.p1 // 64
                 LEFT JOIN bloom b2 ON b2.block = a.p2 // 64)
          SELECT doc_id, source, bloom_maybe,
                 bloom_maybe AND EXISTS (SELECT 1 FROM f e
                   WHERE e.source = 'src0' AND e.fp = pr.fp) AS is_dup
          FROM pr"""
    },
    // canonical corpus with composed accents (chr(225)), re-crawl with
    // decomposed accents (chr(769)) + BEL litter + doubled spaces; both
    // fingerprint paths replayed, the normalized one through DuckDB's
    // nfc_normalize — the same UAX #15 composition as the Spark side
    "d18_normalized_dedup" -> {
      s"""WITH canon AS (SELECT doc_id,
              CASE WHEN doc_id % 3 = 0 THEN replace(text, 'a', chr(225))
                   ELSE text END AS text
            FROM documents),
          rc0 AS (SELECT doc_id,
              CASE WHEN doc_id % 3 = 0 THEN replace(text, 'a', 'a' || chr(769))
                   ELSE text END AS t0
            FROM documents),
          rc1 AS (SELECT doc_id,
              CASE WHEN doc_id % 5 = 0 THEN chr(7) || t0 || chr(7) ELSE t0 END AS t1
            FROM rc0),
          rc AS (SELECT doc_id + 200000 AS doc_id,
              CASE WHEN doc_id % 7 = 0 THEN replace(t1, ' ', '  ') ELSE t1 END AS text
            FROM rc1),
          braw AS (SELECT DISTINCT md5(array_to_string($sqlToks, ' ')) AS fp
                   FROM canon),
          cn AS (SELECT doc_id, ${cleanTextSql("text")} AS text FROM canon),
          bnorm AS (SELECT DISTINCT md5(array_to_string($sqlToks, ' ')) AS fp
                    FROM cn),
          rraw AS (SELECT doc_id, md5(array_to_string($sqlToks, ' ')) AS fp
                   FROM rc),
          rn0 AS (SELECT doc_id, ${cleanTextSql("text")} AS text FROM rc),
          rnorm AS (SELECT doc_id, md5(array_to_string($sqlToks, ' ')) AS fp
                    FROM rn0)
          SELECT r.doc_id,
                 EXISTS (SELECT 1 FROM braw b WHERE b.fp = r.fp) AS matched_raw,
                 EXISTS (SELECT 1 FROM bnorm b WHERE b.fp = n.fp) AS matched_norm
          FROM rraw r JOIN rnorm n USING (doc_id)"""
    },
    // d18's two-fingerprint audit shape with the scrub stage in place of
    // normalization: crawl(salt) plants salt-dependent session PII on
    // mod-2 docs, the re-crawl replays it under salt 2 + shifted ids
    "d25_scrub_dedup" -> {
      def crawlSql(salt: Int): String =
        s"""CASE WHEN doc_id % 2 = 0
               THEN text || ' sess s' || CAST(doc_id * 7 + $salt AS VARCHAR)
                    || '@example.com from 10.'
                    || CAST((doc_id + $salt) % 256 AS VARCHAR)
                    || '.' || CAST(doc_id % 256 AS VARCHAR)
                    || '.' || CAST((doc_id + $salt) % 250 AS VARCHAR)
               ELSE text END"""
      s"""WITH canon AS (SELECT doc_id, ${crawlSql(1)} AS text FROM documents),
          rc AS (SELECT doc_id + 300000 AS doc_id, ${crawlSql(2)} AS text
                 FROM documents),
          braw AS (SELECT DISTINCT md5(array_to_string($sqlToks, ' ')) AS fp
                   FROM canon),
          cs AS (SELECT doc_id, ${scrubSql("text")} AS text FROM canon),
          bscrub AS (SELECT DISTINCT md5(array_to_string($sqlToks, ' ')) AS fp
                     FROM cs),
          rraw AS (SELECT doc_id, md5(array_to_string($sqlToks, ' ')) AS fp
                   FROM rc),
          rs0 AS (SELECT doc_id, ${scrubSql("text")} AS text FROM rc),
          rscrub AS (SELECT doc_id, md5(array_to_string($sqlToks, ' ')) AS fp
                     FROM rs0)
          SELECT r.doc_id,
                 EXISTS (SELECT 1 FROM braw b WHERE b.fp = r.fp) AS matched_raw,
                 EXISTS (SELECT 1 FROM bscrub b WHERE b.fp = n.fp)
                   AS matched_scrubbed
          FROM rraw r JOIN rscrub n USING (doc_id)"""
    },
    // d01's md5 token fingerprint + min-doc_id survivor rule, rolled up
    // by source; the one double division at the end is fixed-shape
    "d19_dup_by_source" ->
      s"""WITH fp AS (SELECT doc_id, source,
                        md5(array_to_string($sqlToks, ' ')) AS f
                      FROM documents),
           g AS (SELECT f, min(doc_id) AS keep_id, count(*) AS n
                 FROM fp GROUP BY f)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dup_docs,
                CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_removed,
                CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE) AS removal_rate
         FROM fp JOIN g USING (f) GROUP BY source""",
    // the d03 oracle at threshold 0.6, binned by similarity decile;
    // floor(j*10) on the identical jaccard double is cross-engine exact
    "d20_sim_histogram" ->
      s"""SELECT CAST(floor(jaccard * 10) AS INT) AS sim_decile,
                 CAST(count(*) AS BIGINT) AS n_pairs
          FROM (${jaccardOracle(0.6)}) GROUP BY 1""",
    "e03_centroid_assign" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              d AS (SELECT vec_id, ${centroidDotsSql("v", 64, 16)} AS dots FROM e)
          SELECT vec_id,
                 CAST(list_position(dots, list_aggregate(dots, 'max')) AS INT) AS centroid_id,
                 list_aggregate(dots, 'max') AS best_dot
          FROM d""",
    "e05_pq_code" -> {
      val m = 8; val dsub = 8; val ksub = 16
      val codeExprs = (0 until m).map { mi =>
        val sub = s"list_slice(v, ${mi * dsub + 1}, ${mi * dsub + dsub})"
        val dists = (0 until ksub)
          .map(c => l2Sql(sub, centroidSqlLiteral(1000 + mi * ksub + c, dsub)))
          .mkString("[", ",", "]")
        s"CAST(CAST(list_position($dists, list_aggregate($dists, 'min')) - 1 AS INT) AS VARCHAR)"
      }.mkString("[", ",", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
          SELECT vec_id, array_to_string($codeExprs, ',') AS pq_code FROM e"""
    },
    "e02_embedding_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              m AS (SELECT vec_id, v,
                      list_reduce(list_prepend(0.0, list_transform(v, x -> abs(x))),
                                  (a, x) -> greatest(a, x)) AS max_abs
                    FROM e)
         SELECT vec_id, max_abs,
                array_to_string(list_transform(v,
                  x -> CAST(CAST(floor(x * (127.0 / greatest(max_abs, 1e-30)) + 0.5) AS INT) AS VARCHAR)), ',') AS q8
         FROM m""",
    "m01_multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                substring(text, 1, 12) AS head
         FROM documents""",
    "m02_multimodal_decode" -> {
      // replays the PPM round trip: regenerate the deterministic payload
      // (header string + pixel bytes = text bytes cycled), then compute
      // what the DECODER extracts from it — integer sums/counts with one
      // final divide per output, so every double matches bit-for-bit.
      val hcols = (0 until 8).map(b =>
        s"""CAST(len(list_filter(lum, x -> x // 32 = $b)) AS DOUBLE)
            / (w * h) AS h$b""").mkString(",\n            ")
      s"""WITH d AS (SELECT doc_id,
              CAST(8 + doc_id % 9 AS INT) AS w,
              CAST(8 + doc_id % 7 AS INT) AS h,
              list_transform(string_split(text, ''), c -> CAST(ord(c) AS HUGEINT)) AS tb
            FROM documents),
          p AS (SELECT doc_id, w, h,
              'P6' || chr(10) || CAST(w AS VARCHAR) || ' ' || CAST(h AS VARCHAR)
                   || chr(10) || '255' || chr(10) AS header,
              list_transform(range(0, w * h * 3),
                i -> coalesce(tb[(i % greatest(len(tb), 1)) + 1], 0)) AS px
            FROM d),
          b AS (SELECT doc_id, w, h, px,
              list_concat(
                list_transform(string_split(header, ''), c -> CAST(ord(c) AS HUGEINT)),
                px) AS payload
            FROM p),
          f AS (SELECT doc_id, w, h,
              CAST(len(payload) AS BIGINT) AS n_bytes,
              ${signedSql(s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), payload),
                (h2, b2) -> (xor(h2, b2) * CAST(1099511628211 AS HUGEINT)) % $U64)""")} AS checksum,
              list_transform(range(0, w * h), k -> CAST(px[3 * k + 1] AS BIGINT)) AS rs,
              list_transform(range(0, w * h), k -> CAST(px[3 * k + 2] AS BIGINT)) AS gs,
              list_transform(range(0, w * h), k -> CAST(px[3 * k + 3] AS BIGINT)) AS bs,
              list_transform(range(0, w * h), k ->
                (CAST(px[3 * k + 1] AS BIGINT) + CAST(px[3 * k + 2] AS BIGINT)
                 + CAST(px[3 * k + 3] AS BIGINT)) // 3) AS lum
            FROM b)
          SELECT doc_id, n_bytes, checksum, w AS width, h AS height,
            CAST(list_sum(rs) AS DOUBLE) / (w * h) AS mean_r,
            CAST(list_sum(gs) AS DOUBLE) / (w * h) AS mean_g,
            CAST(list_sum(bs) AS DOUBLE) / (w * h) AS mean_b,
            $hcols
          FROM f"""
    },
    "t04_signatures" ->
      s"""WITH base AS (SELECT doc_id, $sqlToks AS tk FROM documents),
            h AS (SELECT doc_id, md5(array_to_string(tk, ' ')) AS fp_md5,
                     list_transform(tk, t -> ${fnvSql("t")}) AS hs FROM base)
          SELECT doc_id, fp_md5,
                 ${signedSql(rollingSql("hs"))} AS rolling,
                 ${signedSql(simhashSql("hs"))} AS simhash
          FROM h""",
    "d05_simhash_pairs" ->
      s"""WITH base AS (SELECT doc_id, $sqlToks AS tk FROM documents),
            hh AS (SELECT doc_id, list_transform(tk, t -> ${fnvSql("t")}) AS hs FROM base),
            sig AS (SELECT doc_id, ${signedSql(simhashSql("hs"))} AS sig FROM hh)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
          FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sig, b.sig)) <= 6""",
    "s03_cosine_topk_ivf" -> ivfTopkSql(nProbe = 4),
    "s02_cosine_topk_lsh" -> {
      val probes = (Seq("b.bucket = q.qb") ++
        (0 until 8).map(p => s"b.bucket = xor(q.qb, ${1L << p})")).mkString(" OR ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            b AS (SELECT vec_id, v, ${bucketSql("v", 64, 8)} AS bucket FROM e),
            q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
          SELECT b.vec_id, ${cosineSql("b.v", "q.qv")} AS score
          FROM b, q WHERE $probes
          ORDER BY score DESC, b.vec_id LIMIT 10"""
    },
    // the sketch cascade over the full self-join (see sketchCascadeSql)
    "s06_ann_knn_join" ->
      sketchCascadeSql("sw a JOIN sw b ON a.vec_id <> b.vec_id", cands = 96),
    // the cascade restricted to arrivals × index (no new×new, no
    // index×index) — same planes/packing/tie orders as s06, different
    // probe predicate and a wider hamming cut
    "s07_ann_incremental" ->
      sketchCascadeSql(
        "sw a JOIN sw b ON a.vec_id % 100 = 0 AND b.vec_id % 100 <> 0",
        cands = 128),
    // the cascade over BUCKETED candidates: top-2-of-16 coarse-centroid
    // cells (same deterministic centroids as e03/s03, ranked by dot
    // with cell-id tiebreak), pairs co-resident in ≥1 cell — the
    // candidate relation AnnJoin.candidatePairs materializes, replayed
    // stage-for-stage; the downstream hamming/rerank body is shared
    // with s06/s07 verbatim
    "s10_ann_bucketed" -> {
      val nC = 16; val probes = 2
      sketchCascadeSql(
        "candp cp JOIN sw a ON a.vec_id = cp.qa JOIN sw b ON b.vec_id = cp.qb",
        cands = 96,
        extraCtes = s"""cdq AS (SELECT vec_id, ${centroidDotsSql("v", 64, nC)} AS dots
                   FROM e),
       cdl AS (SELECT vec_id, u AS cell, dots[u + 1] AS d
               FROM cdq CROSS JOIN range(0, $nC) r(u)),
       crk AS (SELECT vec_id, cell,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d DESC, cell) AS rn
               FROM cdl),
       cells AS (SELECT vec_id, cell FROM crk WHERE rn <= $probes),
       candp AS (SELECT DISTINCT a.vec_id AS qa, b.vec_id AS qb
                 FROM cells a JOIN cells b
                   ON a.cell = b.cell AND a.vec_id <> b.vec_id),""")
    },
    // the bucketed cascade split across two corpora: query side
    // vec_id % 10 = 0, index side the rest; cells computed identically,
    // candidates = co-resident cross pairs, query orientation only
    "s11_ann_retrieval" -> {
      val nC = 16; val probes = 2
      sketchCascadeSql(
        "candp cp JOIN sw a ON a.vec_id = cp.qa JOIN sw b ON b.vec_id = cp.qb",
        cands = 96,
        extraCtes = s"""cdq AS (SELECT vec_id, ${centroidDotsSql("v", 64, nC)} AS dots
                   FROM e),
       cdl AS (SELECT vec_id, u AS cell, dots[u + 1] AS d
               FROM cdq CROSS JOIN range(0, $nC) r(u)),
       crk AS (SELECT vec_id, cell,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d DESC, cell) AS rn
               FROM cdl),
       cells AS (SELECT vec_id, cell FROM crk WHERE rn <= $probes),
       candp AS (SELECT DISTINCT a.vec_id AS qa, b.vec_id AS qb
                 FROM cells a JOIN cells b ON a.cell = b.cell
                 WHERE a.vec_id % 10 = 0 AND b.vec_id % 10 <> 0),""")
    },
    // the retrieval cascade with label-split sides (train probes eval),
    // k=1, wrapped by the contamination threshold filter
    "e11_semantic_decontam" -> {
      val nC = 16; val probes = 2
      val cascade = sketchCascadeSql(
        "candp cp JOIN sw a ON a.vec_id = cp.qa JOIN sw b ON b.vec_id = cp.qb",
        cands = 32, k = 1,
        extraCtes = s"""lb AS (SELECT vec_id, label FROM embeddings),
       cdq AS (SELECT vec_id, ${centroidDotsSql("v", 64, nC)} AS dots
                   FROM e),
       cdl AS (SELECT vec_id, u AS cell, dots[u + 1] AS d
               FROM cdq CROSS JOIN range(0, $nC) r(u)),
       crk AS (SELECT vec_id, cell,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d DESC, cell) AS rn
               FROM cdl),
       cells AS (SELECT vec_id, cell FROM crk WHERE rn <= $probes),
       candp AS (SELECT DISTINCT a.vec_id AS qa, b.vec_id AS qb
                 FROM cells a JOIN cells b ON a.cell = b.cell
                 JOIN lb la ON la.vec_id = a.vec_id
                 JOIN lb bb ON bb.vec_id = b.vec_id
                 WHERE la.label <> 0 AND bb.label = 0),""")
      s"""SELECT vec_id, neighbor_id AS eval_id, score AS max_eval_sim
          FROM ($cascade) WHERE score >= 0.35"""
    },
    // per-label rank replay of the faceted heap (row_number is exact
    // because (score DESC, vec_id) is a total order)
    "s14_faceted_topk" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                     FROM embeddings WHERE vec_id = 0),
            sc AS (SELECT e.label, e.vec_id,
                     ${cosineSql("CAST(e.embedding AS DOUBLE[])", "q.qv")}
                       AS score
                   FROM embeddings e, q),
            r AS (SELECT label, vec_id, score,
                    row_number() OVER (PARTITION BY label
                                       ORDER BY score DESC, vec_id) AS rn
                  FROM sc)
          SELECT label, vec_id, score FROM r WHERE rn <= 3""",
    // batch assignment replayed from the md5 shuffle key (t24's algebra:
    // 1-based serial position over (key, vec_id) order, div batch size),
    // then the bounded per-batch cross-label self-join with the pinned
    // cosine fold
    "s12_inbatch_negatives" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
            k AS (SELECT vec_id, label, v,
                    ${md5HexIntSql("CAST(vec_id AS VARCHAR) || ':batch0'")}
                      AS shuffle_key
                  FROM e),
            p AS (SELECT vec_id, label, v,
                    (row_number() OVER (ORDER BY shuffle_key, vec_id) - 1) // 32
                      AS batch_id
                  FROM k)
          SELECT a.batch_id, a.vec_id AS anchor_id, b.vec_id AS neg_id,
                 ${cosineSql("a.v", "b.v")} AS score
          FROM p a JOIN p b
            ON a.batch_id = b.batch_id AND a.vec_id < b.vec_id
           AND a.label <> b.label""",
    // centroid, distance mean, and second moment each replayed with the
    // vec_id-ordered pinned fold; z is two IEEE ops on those statistics
    "e13_embedding_outliers" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
            pe AS (SELECT label, vec_id,
                     CAST(unnest(range(0, len(v))) AS INT) AS dim,
                     unnest(v) AS val
                   FROM e),
            g AS (SELECT label, dim, COUNT(*) AS n,
                    list_reduce(list_prepend(0.0, list(val ORDER BY vec_id)),
                                (p, q) -> p + q) AS s
                  FROM pe GROUP BY 1, 2),
            m AS (SELECT label, dim, s / n AS m FROM g),
            c AS (SELECT label, list(m ORDER BY dim) AS c FROM m GROUP BY 1),
            d AS (SELECT e.vec_id, e.label, sqrt(${l2Sql("e.v", "c.c")}) AS dist
                  FROM e JOIN c ON e.label = c.label),
            mu AS (SELECT label, COUNT(*) AS n,
                     list_reduce(list_prepend(0.0, list(dist ORDER BY vec_id)),
                                 (p, q) -> p + q) AS sd
                   FROM d GROUP BY 1),
            mu2 AS (SELECT label, n, sd / n AS mu FROM mu),
            sg AS (SELECT d.label, min(mu2.mu) AS mu, min(mu2.n) AS n,
                     list_reduce(list_prepend(0.0,
                       list((d.dist - mu2.mu) * (d.dist - mu2.mu)
                            ORDER BY d.vec_id)),
                       (p, q) -> p + q) AS ss
                   FROM d JOIN mu2 ON d.label = mu2.label GROUP BY 1),
            sg2 AS (SELECT label, mu, sqrt(ss / n) AS sigma FROM sg)
          SELECT d.vec_id, d.label, d.dist,
                 (d.dist - s.mu) / s.sigma AS z,
                 (d.dist - s.mu) / s.sigma > 2.0 AS is_outlier
          FROM d JOIN sg2 s ON d.label = s.label""",
    // e04's per-cell pinned-fold mean replayed per (label, side, dim),
    // centroids assembled in dim order, cosine with the pinned fold
    "e12_embedding_drift" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
            pe AS (SELECT label, vec_id % 2 = 0 AS is_a, vec_id,
                     CAST(unnest(range(0, len(v))) AS INT) AS dim,
                     unnest(v) AS val
                   FROM e),
            g AS (SELECT label, is_a, dim, COUNT(*) AS n,
                    list_reduce(list_prepend(0.0, list(val ORDER BY vec_id)),
                                (p, q) -> p + q) AS s
                  FROM pe GROUP BY 1, 2, 3),
            m AS (SELECT label, is_a, dim, n, s / n AS m FROM g),
            c AS (SELECT label, is_a, max(n) AS n,
                    list(m ORDER BY dim) AS c
                  FROM m GROUP BY 1, 2)
          SELECT a.label, a.n AS n_a, b.n AS n_b,
                 ${cosineSql("a.c", "b.c")} AS centroid_cos
          FROM c a JOIN c b ON a.label = b.label
          WHERE a.is_a AND NOT b.is_a""",
    // both cascade stages replayed: prefix-32 coarse top-192 (list_slice),
    // exact full-width rerank top-10 — same fold, same tie order
    "s13_matryoshka_topk" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                     FROM embeddings WHERE vec_id = 0),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
            coarse AS (SELECT e.vec_id, e.v,
                     ${cosineSql("list_slice(e.v, 1, 32)",
                                 "list_slice(q.qv, 1, 32)")} AS cscore
                   FROM e, q
                   ORDER BY cscore DESC, e.vec_id LIMIT 192)
          SELECT c.vec_id, ${cosineSql("c.v", "q.qv")} AS score
          FROM coarse c, q
          ORDER BY score DESC, c.vec_id LIMIT 10""",
    // the same coarse top-192 as s13's replay shape (full-width cosine),
    // then the 4×4 slice-cosine MaxSim grid: greatest per query token,
    // left-assoc 4-term sum — mirrors the Spark expression order exactly
    "s15_maxsim_rerank" -> {
      def sl(v: String, i: Int) = s"list_slice($v, ${i * 16 + 1}, ${(i + 1) * 16})"
      val score = (0 until 4).map { i =>
        "greatest(" + (0 until 4).map(j =>
          cosineSql(sl("c.v", j), sl("q.qv", i))).mkString(", ") + ")"
      }.mkString(" + ")
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                     FROM embeddings WHERE vec_id = 0),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
            coarse AS (SELECT e.vec_id, e.v,
                     ${cosineSql("e.v", "q.qv")} AS cscore
                   FROM e, q
                   ORDER BY cscore DESC, e.vec_id LIMIT 192)
          SELECT c.vec_id, $score AS score
          FROM coarse c, q
          ORDER BY score DESC, c.vec_id LIMIT 10"""
    }
  )

  /** [[oraclesBase]] plus the compositions that embed other entries as
    * subqueries — quoting the SAME strings the embedded queries are
    * checked against, so the composed replay cannot drift from its
    * stages. */
  val oracles: Map[String, String] = oraclesBase +
    // the recall report composes the four verified approximate-tier
    // bodies plus the exact body — quoting the SAME strings each tier is
    // checked against, so the evaluation cannot drift from its subjects
    ("s16_retrieval_eval" -> {
      val methods = Seq(
        "lsh" -> "s02_cosine_topk_lsh", "ivf" -> "s03_cosine_topk_ivf",
        "pq" -> "s08_pq_adc_topk", "mrl" -> "s13_matryoshka_topk")
      val union = methods.map { case (label, q) =>
        s"SELECT '$label' AS method, vec_id FROM (${oraclesBase(q)})"
      }.mkString("\nUNION ALL\n")
      s"""WITH ex AS (SELECT vec_id FROM (${oraclesBase("s01_cosine_topk")})),
            m AS ($union)
          SELECT m.method, CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_hits,
                 CAST(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
          FROM m LEFT JOIN ex ON ex.vec_id = m.vec_id
          GROUP BY m.method"""
    }) +
    // the probes-recall curve: one ivfTopkSql quote per tier, the exact
    // body from s01 — the same composition discipline as s16
    ("s18_probe_recall" -> {
      val union = Seq(1, 2, 4, 8).map { p =>
        s"SELECT $p AS n_probe, vec_id FROM (${ivfTopkSql(p)})"
      }.mkString("\nUNION ALL\n")
      s"""WITH ex AS (SELECT vec_id FROM (${oraclesBase("s01_cosine_topk")})),
            m AS ($union)
          SELECT m.n_probe, CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_hits,
                 CAST(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS DOUBLE) / CAST(10.0 AS DOUBLE) AS recall
          FROM m LEFT JOIN ex ON ex.vec_id = m.vec_id
          GROUP BY m.n_probe"""
    }) +
    // cell balance: e03's verified assignment body + the explicit
    // 1..16 spine so empty cells replay as zero rows
    ("e17_cell_balance" ->
      s"""WITH a AS (${oraclesBase("e03_centroid_assign")}),
            c AS (SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_vecs
                  FROM a GROUP BY 1),
            t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total FROM c),
            sp AS (SELECT CAST(unnest(range(1, 17)) AS INT) AS centroid_id)
          SELECT sp.centroid_id,
                 CAST(coalesce(c.n_vecs, 0) AS BIGINT) AS n_vecs,
                 CAST(coalesce(c.n_vecs, 0) AS DOUBLE) * 16
                   / CAST(t.n_total AS DOUBLE) AS load_factor
          FROM sp LEFT JOIN c USING (centroid_id) CROSS JOIN t""") +
    // the release manifest: d13's verdict subquery × t27's gate subquery
    ("d16_corpus_release" ->
      s"""SELECT v.doc_id, q.score
          FROM (${oraclesBase("d13_dedup_verdict")}) v
          JOIN (${oraclesBase("t27_quality_classifier")}) q USING (doc_id)
          WHERE v.verdict = 'kept' AND q.keep""") +
    // keyframes: m06's verified cut table as the subquery, then the same
    // starts-union + window-extent algebra
    // image near-dup: m05's verified hash table as the subquery, then
    // the naive all-pairs hamming filter (bit_count of xor — two's-
    // complement popcount agrees with Java's Long.bitCount)
    ("m09_image_neardup" ->
      s"""WITH ph AS (${oraclesBase("m05_image_phash")})
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
          FROM ph a JOIN ph b ON a.doc_id < b.doc_id
          WHERE a.phash IS NOT NULL AND b.phash IS NOT NULL
            AND bit_count(xor(a.phash, b.phash)) <= 6""") +
    // audio near-dup: the shared WAV sample generator (m04/m08's
    // clauses), the 63-bit delta-sign fold in exact integer list
    // arithmetic (power(2, b) exact for b <= 62 — bit 63 is never set),
    // then the naive all-pairs hamming filter
    ("m12_audio_neardup" ->
      s"""WITH $wavSamplesSql,
            fp AS (SELECT doc_id,
                     list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(0, 63), b ->
                         CASE WHEN abs(ss[b + 2]) > abs(ss[b + 1])
                              THEN CAST(power(2, b) AS BIGINT)
                              ELSE CAST(0 AS BIGINT) END)),
                       (a, x) -> a + x) AS afp
                   FROM sg)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
          FROM fp a JOIN fp b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.afp, b.afp)) <= 6""") +
    // cross-source leakage: d04's verified pair body as the subquery,
    // the same unordered-pair normalization and count/max fold
    ("d21_cross_source_leakage" ->
      s"""WITH p AS (${oraclesBase("d04_minhash_lsh")})
          SELECT least(sa.source, sb.source) AS source_a,
                 greatest(sa.source, sb.source) AS source_b,
                 CAST(count(*) AS BIGINT) AS n_pairs,
                 max(p.jaccard) AS max_jaccard
          FROM p
          JOIN documents sa ON sa.doc_id = p.doc_a
          JOIN documents sb ON sb.doc_id = p.doc_b
          WHERE sa.source <> sb.source
          GROUP BY 1, 2""") +
    // span removal: d15's verified span body, tokens zipped with their
    // 1-based positions, NOT EXISTS containment, position-ordered
    // string_agg — the same surgery the Spark anti-join performs
    ("d24_span_removal" ->
      s"""WITH spans AS (${oraclesBase("d15_span_dedup")}),
            tk AS (SELECT doc_id,
                     unnest(range(1, len(tks) + 1)) AS pos,
                     unnest(tks) AS tok
                   FROM (SELECT doc_id, $sqlToks AS tks FROM documents)),
            kept AS (SELECT t.doc_id, t.pos, t.tok FROM tk t
                     WHERE NOT EXISTS (
                       SELECT 1 FROM spans s2
                       WHERE s2.doc_id = t.doc_id
                         AND t.pos BETWEEN s2.span_start AND s2.span_end)),
            agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                      string_agg(tok, ' ' ORDER BY pos) AS ct
                    FROM kept GROUP BY doc_id)
          SELECT d.doc_id, coalesce(agg.ct, '') AS clean_text,
                 CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept_tokens
          FROM documents d LEFT JOIN agg USING (doc_id)""") +
    // survivor policy: d06's verified component body × t27's verified
    // score body; the quality argmax replayed as (score DESC, doc_id)
    // row_number — the same tie order as the max(struct) aggregate
    ("d22_survivor_policy" ->
      s"""WITH comp AS (${oraclesBase("d06_neardup_groups")}),
            sc AS (${oraclesBase("t27_quality_classifier")}),
            lab AS (SELECT c.doc_id, c.component, s.score
                    FROM comp c JOIN sc s USING (doc_id)),
            ag AS (SELECT component, CAST(count(*) AS BIGINT) AS n_docs,
                     min(doc_id) AS minid_keep_id
                   FROM lab GROUP BY 1),
            qk AS (SELECT component, doc_id AS qual_keep_id,
                     score AS qual_score
                   FROM (SELECT lab.*, row_number() OVER (
                           PARTITION BY component
                           ORDER BY score DESC, doc_id) AS rn
                         FROM lab) WHERE rn = 1)
          SELECT ag.component, ag.n_docs, qk.qual_keep_id, qk.qual_score,
                 ag.minid_keep_id, ms.score AS minid_score,
                 qk.qual_keep_id = ag.minid_keep_id AS policies_agree
          FROM ag JOIN qk USING (component)
          JOIN sc ms ON ms.doc_id = ag.minid_keep_id""") +
    // the manifest composes the verified m04/m05/m06 bodies: health
    // flags from the decode subqueries, the dup verdict as a naive
    // smaller-id hamming EXISTS over the hash table, scene counts as
    // 1 + cuts per eligible doc (m07's row count per doc)
    ("m11_media_manifest" ->
      s"""WITH ph AS (${oraclesBase("m05_image_phash")}),
            aud AS (SELECT doc_id, sample_rate
                    FROM (${oraclesBase("m04_audio_decode")})),
            cuts AS (${oraclesBase("m06_scene_cut")}),
            sc AS (SELECT c.doc_id,
                     CAST(1 + sum(CASE WHEN c.is_cut THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_scenes
                   FROM cuts c GROUP BY c.doc_id),
            dup AS (SELECT DISTINCT p.doc_id FROM ph p
                    JOIN ph x ON x.doc_id < p.doc_id
                    WHERE x.phash IS NOT NULL AND p.phash IS NOT NULL
                      AND bit_count(xor(x.phash, p.phash)) <= 6),
            fl AS (SELECT p.doc_id,
                     p.phash IS NOT NULL AS image_ok,
                     a.sample_rate IS NOT NULL AS audio_ok,
                     EXISTS (SELECT 1 FROM dup d
                             WHERE d.doc_id = p.doc_id) AS image_dup,
                     coalesce(sc.n_scenes, 0) AS n_scenes
                   FROM ph p
                   JOIN aud a ON a.doc_id = p.doc_id
                   LEFT JOIN sc ON sc.doc_id = p.doc_id)
          SELECT doc_id, image_ok, audio_ok, image_dup, n_scenes,
                 (image_ok AND audio_ok AND NOT image_dup) AS kept
          FROM fl""") +
    ("m07_keyframes" ->
      s"""WITH cuts AS (${oraclesBase("m06_scene_cut")}),
            starts AS (
              SELECT doc_id, frame_idx FROM cuts WHERE is_cut
              UNION ALL
              SELECT DISTINCT doc_id, CAST(0 AS BIGINT) AS frame_idx FROM cuts),
            tot AS (SELECT doc_id,
                      CAST(floor(length(text) / $FrameChars) AS BIGINT) AS doc_frames
                    FROM documents WHERE length(text) >= ${2 * FrameChars}),
            r AS (SELECT s.doc_id, s.frame_idx, t.doc_frames,
                    CAST(row_number() OVER w AS INT) AS scene_id,
                    lead(s.frame_idx) OVER w AS next_start
                  FROM starts s JOIN tot t ON t.doc_id = s.doc_id
                  WINDOW w AS (PARTITION BY s.doc_id ORDER BY s.frame_idx))
          SELECT doc_id, scene_id, frame_idx AS keyframe_idx,
                 COALESCE(next_start, doc_frames) - frame_idx AS n_frames
          FROM r""")
}

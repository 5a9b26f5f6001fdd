package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Hashing, TextFunctions => TF, VectorFunctions => VF}

/**
 * The Scala helpers the harness query builds share. The queries
 * themselves, each beside its DuckDB oracle, live in [[graft.catalogue]];
 * the oracles' SQL helpers live in [[graft.oracle.OracleSql]].
 *
 * Here: the memoized base-table reads and the harness-input spreads
 * (`t`, `docs`, `emb`, `embWide`), the shared edge sets, sketch and pair
 * tables with their memos and [[releaseCaches]], the shared HLL algebra,
 * and the few Scala compositions more than one query binds (block-pair
 * join, prototypicality scoring, PII/mojibake/link injection, the RTBF
 * ledger, the staged dedup verdict). The constants a build and its
 * oracle must agree on (`piiKey`, `rtbfRequests`, the frame geometry)
 * live here too, and the oracles read them from here.
 */
object NorthStar {
  /**
   * Base-table reads are memoized per (session, dir, table) in
   * [[SessionCache]]: a fresh `spark.read.parquet` builds a new
   * InMemoryFileIndex (file listing + footer schema read) every call, and
   * a 198-query bench pass re-lists each table dozens of times — pure
   * fixed cost at any scale (on a real cluster it is an object-store LIST
   * per query). Every query shares one file index and one resolved schema
   * per table. Plans are unchanged (same logical read); nothing is
   * persisted, and [[releaseCaches]] drops the entries so a
   * long-lived session whose files were rewritten can re-resolve.
   */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    SessionCache.memo(s, dir, ("table", name))(s.read.parquet(s"$dir/$name.parquet"))

  /** Clamp-to-last-bucket equi-width bucket index — the shared bucket
    * algebra of q51/a03 (a fixed single-op double sequence both engines
    * execute identically; the max value lands in bucket nb−1). */
  private[graft] def bucketIdx(x: Column, lo: Column, hi: Column, nb: Int): Column =
    least(floor((x - lo) / ((hi - lo) / nb)).cast(LongType), lit(nb - 1L))

  /**
   * events.ts arrives in whatever physical form the generator last wrote:
   * parquet TIMESTAMP(NANOS) surfaces as a long under the legacy
   * nanosAsLong reader (set once at session build by Verify/Bench/tests,
   * NOT here: a per-query conf mutation would be an order-dependent
   * global), and naive TIMESTAMP(MICROS) surfaces as TimestampNTZ under
   * Spark's NTZ inference. Normalize BOTH to a microsecond TimestampType
   * (identity wall-clock under the UTC session) so every downstream op —
   * and every test — sees one stable timestamp type, exactly as DuckDB
   * sees one naive TIMESTAMP regardless of the physical encoding.
   */
  private[graft] def eventsTable(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /**
   * Undirected simple part co-order graph: parts sharing an order, both
   * line quantities >= `minQty`; one (u < v) row per pair, no dups. The
   * single-sourced edge set every g-tier query binds to (g05 audits its
   * wedge bounds; the oracles re-derive it per query by necessity).
   *
   * Memoized + persisted per (session, dir, minQty): seven g-tier queries
   * bind the same co-order graph, and without the memo each re-runs the
   * lineitem group-and-pair build with its corpus-scale distinct — 12
   * scan+shuffle rounds at 100 TB where one materialized table suffices
   * (round-7/8 verdict item #1). Persist is lazy — the first g query
   * materializes it; the graph operators' internal localCheckpoints then
   * copy from the cache instead of re-deriving the join.
   * [[releaseCaches]] is the lifecycle handle (Bench releases
   * between passes; long-lived sessions call it when the corpus changes).
   */
  private[graft] def coOrderEdges(s: SparkSession, dir: String,
                                  minQty: Int): DataFrame =
    SessionCache.memo(s, dir, ("coOrder", minQty)) {
      // per-order pair generation via a sorted part set + double explode:
      // one groupBy shuffle replaces the (distinct + self-join) pair —
      // collect_set IS the (o, p) dedup, and sort_array makes each pair
      // emerge exactly once as (earlier, later), already u < v. The
      // per-group array is bounded by order width (a handful of parts
      // per order in this schema — NOT a corpus-scale list; a key whose
      // group cannot fit one executor row needs the self-join shape).
      val parts = t(s, dir, "lineitem")
        .filter(col("l_quantity") >= minQty)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .filter(size(col("ps")) >= 2)
      parts.select(posexplode(col("ps")).as(Seq("i", "u")), col("ps"))
        .select(col("u"), explode(slice(col("ps"), col("i") + lit(2),
          size(col("ps")))).as("v"))
        .distinct()
        .persist()
    }

  /**
   * The supplier↔part bipartite incidence graph (distinct lineitem
   * (l_suppkey, l_partkey + 10^7) pairs) — the SECOND shared g-tier
   * edge set, memoized + persisted exactly like [[coOrderEdges]]
   * (r17 optimization): g02 PageRank and g12 PPR bind this graph, and
   * without the memo each query re-ran the corpus-scale scan +
   * distinct shuffle (g12 stage metrics: 0.39 s map + 1.0 s cpu
   * finalize per derivation) — two full builds per bench pass, 4
   * corpus passes at 100 TB, where one materialized edge table
   * suffices. g04 BFS was ALSO bound here in r17 and measured ~0.2 s
   * WORSE, so it keeps its lazy 2-column scan — the revert note lives
   * on the g04 operator itself (r18 docstring fix: this header used to
   * still claim g04 binds the memo).
   */
  private[graft] def supplierPartEdges(s: SparkSession, dir: String): DataFrame =
    SessionCache.memo(s, dir, "bipartite") {
      t(s, dir, "lineitem")
        .select(col("l_suppkey").as("s"), (col("l_partkey") + 10000000L).as("p"))
        .distinct()
        .persist()
    }

  /** Per-(keys, j) HLL register maxima over `user_id` — m = 64, the
    * a04 FNV hash / rho family, shared by a04 (corpus-wide) and a09
    * (per-hour, window-merged) so the two sketches cannot drift. */
  private[graft] def hllRegisters(ev: DataFrame, keys: Seq[String]): DataFrame = {
    val hv = graft.functions.Hashing.fnvChecksum(
      col("user_id").cast(StringType).cast(BinaryType))
    val rho = (6 to 37).foldRight(lit(33): Column)((k, els) =>
      when(col("h").bitwiseAND(lit(1L << k)) =!= lit(0L), lit(k - 5))
        .otherwise(els))
    ev.select(keys.map(col) :+ hv.as("h"): _*)
      .select(keys.map(col) ++ Seq(
        col("h").bitwiseAND(lit(63L)).cast("int").as("j"), rho.as("rho")): _*)
      .groupBy((keys :+ "j").map(col): _*).agg(max(col("rho")).as("m_j"))
  }

  /** Register table → per-`keys` (n_present, sum 2^−m_j) — the two
    * inputs of the HLL harmonic estimate; the double sum is EXACT
    * (power-of-two terms spanning < 52 mantissa bits). */
  private[graft] def hllEstimate(regs: DataFrame, keys: Seq[String]): DataFrame =
    regs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_present"),
        sum(pow(lit(2.0), -col("m_j").cast(DoubleType))).as("sum_present"))

  /** The m = 64 harmonic estimate α·m² / (Σ2^−m_j + zeros) over an
    * [[hllEstimate]] row — ONE definition for a04, a09, and the
    * streaming distinct view, so the constants (and the documented
    * linear-counting swap below 2.5·m) can only change in one place. */
  private[graft] def hllHarmonic: Column =
    lit(0.709) * lit(4096.0) /
      (col("sum_present") + (lit(64L) - col("n_present")).cast(DoubleType))

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
  // Base reads go through [[t]], the shared per-(session, dir, table)
  // file-index memo — ~90 of the 198 queries bind documents/embeddings,
  // and without the memo each re-lists the file and re-resolves the
  // schema (the q-tier's round-9 lesson; released by [[releaseCaches]]).
  // The repartition is a fresh plan node per call on the shared read.
  private[graft] def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
  private[graft] def emb(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
  // The embeddings table is the same single-file/single-split plumbing
  // as documents, but emb() deliberately stays UNSPREAD: cheap one-pass
  // consumers (s01/s13-style single-query top-k) carry a plan contract
  // that a corpus query must NOT shuffle the corpus (PlansSpec), and a
  // blanket repartition would break exactly that posture. Consumers
  // whose per-vector kernels are the cost — 512-bit signature builds,
  // PQ/ADC scans, eval sweeps (measured 600-700 ms on the scan's ONE
  // task) — opt into the pinned spread explicitly; the count pin is
  // the docs() lesson (byte-based AQE coalescing vs CPU-bound rows).
  private[graft] def embWide(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).repartition(s.sparkContext.defaultParallelism, col("vec_id"))

  /** The exact all-pairs block self-join of e01, s04 and s06. `t` holds
    * (vec_id, blk in [0, B)) plus the `payload` columns; every unordered
    * vector pair falls in exactly one unordered block pair {blk(a),
    * blk(b)}, so replicating each side once per block pair turns the
    * O(n²) scan into an equi-join on (bi, bj) with B(B+1)/2 keys — an
    * ordinary shuffled join (replication factor (B+1)/2, per-task work
    * (n/B)²), no cartesian. Returns each unordered pair once as
    * (id_l, <payload>_l, bi, bj, id_r, <payload>_r, ri, rj). */
  private[graft] def blockPairJoin(s: SparkSession, t: DataFrame, B: Int,
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
  private[graft] def protoCosScored(s: SparkSession, dir: String): DataFrame = {
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
    * twin [[graft.oracle.OracleSql.cleanTextSql]]) so the normalize
    * query and the dedup leak audit always run the same normalizer. */
  private[graft] def cleanText(t: Column): Column =
    trim(regexp_replace(regexp_replace(
      Hashing.nfcNormalize(t), "[\\x00-\\x1f\\x7f]", ""), " +", " "))

  /** Pseudonymization key for t36 — embedded verbatim in the oracle, so
    * it must stay ASCII (fnvSql folds per-char ord as the byte). */
  private[graft] val piiKey = "graft-pii-k13"

  /** Deterministic PII injection for the audit tier (the corpus carries
    * none): one email always; a second email on mod-2, a phone on mod-3,
    * an IPv4 on mod-5, an SSN-shaped ID on mod-7 — so the per-doc counts
    * VARY. Cards use fixed well-known TEST PANs (a doc_id-derived PAN
    * would need a check-digit computation in both injection twins for
    * zero added coverage): a Luhn-VALID dashed Visa on mod-13=0, the
    * check-digit-BROKEN variant on mod-13=1 (must count 0 and survive
    * scrub raw — the precision side of the Luhn gate, hash-checked
    * cross-engine), a valid contiguous Amex on mod-17=0. Mirrored
    * literally by [[graft.oracle.OracleSql.piiInjectSql]]. */
  private[graft] def piiInject(text: Column, id: Column): Column =
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
    * TextFunctions marker constants;
    * [[graft.oracle.OracleSql.mojiInjectSql]] rebuilds the SAME
    * codepoints via chr(). */
  private[graft] def mojiInject(text: Column, id: Column): Column =
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

  /** The t41/t42 deletion ledger: the shared audit address (links every
    * mod-10 doc — t37/t40's single target), one doc-specific address
    * (doc 33 only — NOT a mod-10 doc, so this request alone selects a
    * row no other request touches), one phone (doc 0 only). Small by
    * design — the
    * ledger is the BROADCAST side; the oracle re-derives each tag from
    * these literals. */
  private[graft] val rtbfRequests: Seq[(String, String)] = Seq(
    "EMAIL" -> "audit@example.net",
    "EMAIL" -> "user33@example.com",
    "PHONE" -> "+1-555-0000")

  private[graft] def rtbfLedger(s: SparkSession): DataFrame = {
    import s.implicits._
    rtbfRequests.toDF("label", "value")
  }

  /** The t36/t37/t38 linkage injection: one per-doc email always, the
    * SHARED audit address on mod-10 docs (the cross-doc linkage witness
    * and t37's deletion target), a phone on mod-3. Mirrored literally by
    * [[graft.oracle.OracleSql.linkInjectSql]]. */
  private[graft] def linkInjected(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com"),
        when(col("doc_id") % 10 === 0, lit(" cc audit@example.net"))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          concat(lit(" or +1-555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("tp"))

  // near-dup pair detection lives in graft.operators.Dedup (PPJoin exact
  // path + MinHash-LSH scale path); the memos below bind it to the
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
  private[graft] def hsTable(s: SparkSession, dir: String): DataFrame =
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
  private[graft] def neardupPairs(s: SparkSession, dir: String): DataFrame =
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

  /** Frame geometry shared by the video-tier queries (m06 scene cuts,
    * m07 keyframes, m10 video fingerprints) AND their oracles: one
    * constant pair, so a retune cannot drift the composed stages. */
  private[graft] val FrameChars = 48
  private[graft] val SceneCutHamming = 18

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
  private[graft] def dedupVerdict(s: SparkSession, dir: String, lmGate: Boolean): DataFrame = {
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
}

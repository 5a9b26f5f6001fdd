package graft.catalogue

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.NorthStar._
import graft.oracle.OracleSql._
import graft.functions.{Hashing, TextFunctions => TF}

/**
 * The dedup tier: exact, MinHash-LSH, SimHash, PPJoin and span/chunk
 * deduplication over the harness documents, and the staged dedup verdict.
 */
object DedupQueries {

  // exact dedup via normalized-text fingerprint: one hash-groupBy
  val d01 = Query("d01_dedup_exact", (s, dir) =>
      docs(s, dir)
        .groupBy(TF.fingerprint(col("text")).as("fingerprint"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies")),
    s"""SELECT md5(array_to_string($sqlToks, ' ')) AS fingerprint,
                 min(doc_id) AS keep_id, count(*) AS n_copies
          FROM documents GROUP BY 1""")

  // the surviving documents after exact dedup (keep = lowest doc_id).
  // Scale shape: the agg shuffles only (fingerprint, partial-min doc_id)
  // after map-side combine, and the semi-join key set is doc_id only —
  // the text column never crosses a shuffle (a window over fingerprint
  // would move full rows). AQE broadcasts the keep-set when small.
  val d02 = Query("d02_dedup_survivors", (s, dir) => {
      val d = docs(s, dir)
      val keep = d
        .select(TF.fingerprint(col("text")).as("fingerprint"), col("doc_id"))
        .groupBy(col("fingerprint")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      d.join(keep, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    },
    s"""SELECT doc_id, lang, source, n_chars FROM (
            SELECT doc_id, lang, source, n_chars,
                   min(doc_id) OVER (PARTITION BY md5(array_to_string($sqlToks, ' '))) AS keep
            FROM documents)
          WHERE doc_id = keep""")

  // near-dup ground truth: exact n-gram Jaccard ≥ 0.8 via prefix
  // filtering (guaranteed recall — see operators.Dedup.jaccardPairsExact)
  val d03 = Query("d03_jaccard_pairs", (s, dir) => neardupPairs(s, dir),
    jaccardOracle(0.8))

  // the scale path: MinHash(128) + LSH(32 bands × r=4) + signature-
  // estimate prefilter + exact verify — identical output to d03 with
  // near-linear candidate volume (see operators.Dedup.minhashLshPairs).
  // Shares the memoized shingle-hash table with d03: the signature
  // build reads materialized long arrays, not text.
  val d04 = Query("d04_minhash_lsh", (s, dir) => lshPairs(s, dir),
    jaccardOracle(0.8))

  // SimHash near-dup: 64-bit signatures (custom Catalyst expression),
  // byte-banded candidate join (8 bands ⇒ complete for hamming ≤ 7)
  val d05 = Query("d05_simhash_pairs", (s, dir) => {
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
    },
    s"""WITH base AS (SELECT doc_id, $sqlToks AS tk FROM documents),
            hh AS (SELECT doc_id, list_transform(tk, t -> ${fnvSql("t")}) AS hs FROM base),
            sig AS (SELECT doc_id, ${signedSql(simhashSql("hs"))} AS sig FROM hh)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
          FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sig, b.sig)) <= 6""")

  // duplicate-cluster formation over the near-dup pair graph: connected
  // components via iterative min-label propagation (the post-pair stage
  // of an LLM-data dedup pipeline — keep min doc_id per cluster)
  val d06 = Query("d06_neardup_groups", (s, dir) =>
      graft.operators.Dedup.connectedComponents(
        neardupPairs(s, dir).select(col("doc_a"), col("doc_b"))),
    // transitive closure over the pair graph; component = min reachable id
    s"""WITH RECURSIVE pr AS (${jaccardOracle(0.8)}),
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
                      UNION ALL SELECT doc_b, doc_a FROM pr),
            reach(src, dst) AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
          SELECT src AS doc_id, least(src, min(dst)) AS component
          FROM reach GROUP BY src""")

  // the FINAL dedup output: one representative per duplicate cluster
  // (longest text wins, ties to min doc_id), singletons kept as their
  // own cluster — what an LLM-data pipeline actually emits downstream
  val d07 = Query("d07_cluster_keep", (s, dir) => {
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
    },
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
          SELECT component, doc_id AS keep_id, n_docs FROM ranked WHERE rn = 1""")

  // incremental-ingest dedup: new arrivals checked against an EXISTING
  // corpus by content fingerprint — a left_anti join on the fingerprint,
  // shuffling only (fingerprint, doc_id, source), never text. 'src0' is
  // the harness's designated existing corpus (a fixed domain, like
  // q32's explicit pivot values); production passes any baseline table.
  val d08 = Query("d08_incremental_dedup", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        TF.fingerprint(col("text")).as("fingerprint"))
      val existing = d.filter(col("source") === "src0").select(col("fingerprint"))
      d.filter(col("source") =!= "src0")
        .join(existing, Seq("fingerprint"), "left_anti")
        .select(col("doc_id"), col("source"))
    },
    s"""WITH f AS (SELECT doc_id, source,
                       md5(array_to_string($sqlToks, ' ')) AS fp
                     FROM documents)
          SELECT n.doc_id, n.source FROM f n
          WHERE n.source <> 'src0'
            AND NOT EXISTS (SELECT 1 FROM f e
                            WHERE e.source = 'src0' AND e.fp = n.fp)""")

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
  val d09 = Query("d09_editdist_pairs", (s, dir) =>
      graft.operators.Dedup.editDistancePairs(
        docs(s, dir), "doc_id", "text", prefixLen = 160, maxDist = 8),
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
         FROM cand WHERE levenshtein(pa, pb) <= 8"""))

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
  val d10 = Query("d10_chunk_dedup", (s, dir) => {
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
    },
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
          SELECT doc_id, n_chunks, n_dup_chunks FROM pd""")

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
  val d11 = Query("d11_cdc_chunks", (s, dir) => {
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
    },
    // aligned unnest of equal-length lists is positional in DuckDB, which
    // reproduces posexplode(zip_with(...)) exactly
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
         FROM ex WHERE en >= st""")

  // asymmetric containment pairs — |A∩B| / min(|A|,|B|) ≥ 0.8: the
  // quote/boilerplate-inclusion relation d03's symmetric Jaccard
  // misses (a short doc embedded in a long one has containment ≈ 1,
  // Jaccard ≈ |A|/|B|). Shares the memoized shingle-hash table;
  // see Dedup.containmentPairs for the one-sided prefix filter.
  val d12 = Query("d12_containment_pairs", (s, dir) =>
      graft.operators.Dedup.containmentPairs(hsTable(s, dir), 0.8),
    // same shingle CTEs as the jaccard oracle, containment denominator
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
          WHERE CAST(inter AS DOUBLE) / least(sa.n, sb.n) >= 0.8""")

  // the dedup-pipeline VERDICT table — CorpusPipeline's staged chain
  // (quality → exact → near-dup → eval/contamination) surfaced as one
  // labeled, ORACLE-CHECKED result: every document and the stage that
  // dropped it (or 'kept'). This hash-verifies the pipeline's
  // end-to-end semantics cross-engine, not just each stage alone — the
  // audit trail a production dedup run ships next to its output corpus.
  val d13 = Query("d13_dedup_verdict", (s, dir) => dedupVerdict(s, dir, lmGate = false),
    verdictOracle(lmGate = false))

  // incremental NEAR-dup dedup (d08's exact-fingerprint sibling): new
  // arrivals (odd doc_ids stand in for tonight's batch) probe the
  // existing corpus's (even ids) LSH band index — new ⋈ index only,
  // never index ⋈ index, the shape that amortizes a 100 TB corpus
  // across nightly ingests. Shares the memoized shingle-hash table;
  // see Dedup.minhashLshPairsAgainst for the banding/recall math.
  val d14 = Query("d14_incremental_neardup", (s, dir) => {
      val hs = hsTable(s, dir)
      graft.operators.Dedup.minhashLshPairsAgainst(
        hs.filter(pmod(col("doc_id"), lit(2L)) === 1),
        hs.filter(pmod(col("doc_id"), lit(2L)) === 0),
        0.8, k = 128, bands = 32, estFloor = 0.6)
    },
    // the jaccard pair CTEs restricted to cross-parity pairs (new = odd,
    // existing = even), with the new side first
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
          WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8""")

  // duplicate-SPAN detection (Lee et al. ACL'22): maximal token ranges
  // whose every 8-gram repeats in the corpus — span-level boilerplate
  // removal, the complement of whole-doc dedup. Three narrow shuffles;
  // gram strings never leave the hash projection (see Dedup.duplicateSpans)
  val d15 = Query("d15_span_dedup", (s, dir) =>
      graft.operators.Dedup.duplicateSpans(docs(s, dir), "doc_id", "text", 8),
    // duplicated 8-gram start positions merged gaps-and-islands style;
    // the oracle groups by gram STRING where Spark groups by its 64-bit
    // hash (the d03 stance: collisions only widen a span, and none occur
    // at the gate's corpus size)
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
          FROM grp GROUP BY doc_id, gid""")

  // the RELEASE manifest — what actually ships: d13's rule-based
  // verdict pipeline composed with t27's model-based quality gate
  // (the two filters every production corpus passes: deterministic
  // rules + a learned classifier). A pure doc_id-keyed composition of
  // two already-verified queries — the oracle embeds THE SAME two
  // oracle bodies as subqueries, so the composed replay cannot drift
  // from its stages; the join reuses d13's memoized pair machinery.
  val d16 = Query("d16_corpus_release", (s, dir) => {
      val verdict = d13.build(s, dir)
      val gate = TextQueries.t27.build(s, dir)
      verdict.filter(col("verdict") === "kept").select(col("doc_id"))
        .join(gate.filter(col("keep"))
          .select(col("doc_id"), col("score")), Seq("doc_id"))
    },
    // the release manifest: d13's verdict subquery × t27's gate subquery
    s"""SELECT v.doc_id, q.score
          FROM (${d13.oracle}) v
          JOIN (${TextQueries.t27.oracle}) q USING (doc_id)
          WHERE v.verdict = 'kept' AND q.keep""")

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
  val d17 = Query("d17_bloom_gate", (s, dir) => {
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
    },
    // the bloom algebra replayed relationally: FNV probe positions from
    // the md5 fingerprint, sparse (block, lane) bit_or lanes, the same
    // bit-63 signed-mask case as a06's replay, exact confirm via EXISTS
    {
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
    })

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
  val d18 = Query("d18_normalized_dedup", (s, dir) => {
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
    },
    // canonical corpus with composed accents (chr(225)), re-crawl with
    // decomposed accents (chr(769)) + BEL litter + doubled spaces; both
    // fingerprint paths replayed, the normalized one through DuckDB's
    // nfc_normalize — the same UAX #15 composition as the Spark side
    {
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
    })

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
  val d19 = Query("d19_dup_by_source", (s, dir) => {
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
    },
    // d01's md5 token fingerprint + min-doc_id survivor rule, rolled up
    // by source; the one double division at the end is fixed-shape
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
         FROM fp JOIN g USING (f) GROUP BY source""")

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
  val d20 = Query("d20_sim_histogram", (s, dir) =>
      histPairs(s, dir)
        .select(floor(col("jaccard") * 10).cast(IntegerType).as("sim_decile"))
        .groupBy(col("sim_decile")).agg(count(lit(1)).as("n_pairs")),
    // the d03 oracle at threshold 0.6, binned by similarity decile;
    // floor(j*10) on the identical jaccard double is cross-engine exact
    s"""SELECT CAST(floor(jaccard * 10) AS INT) AS sim_decile,
                 CAST(count(*) AS BIGINT) AS n_pairs
          FROM (${jaccardOracle(0.6)}) GROUP BY 1""")

  // cross-source leakage matrix — WHICH source pairs share near-dup
  // content (mirror sites, syndication, benchmark text republished in
  // a crawl), the provenance table d19's within-source profile can't
  // see. Reuses the MEMOIZED d04 LSH pair table (zero incremental
  // pair work in a session that already deduped) + two doc_id-keyed
  // source lookups; sources are normalized to an unordered pair via
  // least/greatest so each source pair is ONE row. count/max only —
  // no order-sensitive float folds — so the hash contract is exact.
  val d21 = Query("d21_cross_source_leakage", (s, dir) => {
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
    },
    // cross-source leakage: d04's verified pair body as the subquery,
    // the same unordered-pair normalization and count/max fold
    s"""WITH p AS (${d04.oracle})
          SELECT least(sa.source, sb.source) AS source_a,
                 greatest(sa.source, sb.source) AS source_b,
                 CAST(count(*) AS BIGINT) AS n_pairs,
                 max(p.jaccard) AS max_jaccard
          FROM p
          JOIN documents sa ON sa.doc_id = p.doc_a
          JOIN documents sb ON sb.doc_id = p.doc_b
          WHERE sa.source <> sb.source
          GROUP BY 1, 2""")

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
  val d22 = Query("d22_survivor_policy", (s, dir) => {
      val comps = d06.build(s, dir)
      val scores = TextQueries.t27.build(s, dir)
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
    },
    // survivor policy: d06's verified component body × t27's verified
    // score body; the quality argmax replayed as (score DESC, doc_id)
    // row_number — the same tie order as the max(struct) aggregate
    s"""WITH comp AS (${d06.oracle}),
            sc AS (${TextQueries.t27.oracle}),
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
          JOIN sc ms ON ms.doc_id = ag.minid_keep_id""")

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
  val d23 = Query("d23_minhash_k_curve", (s, dir) => {
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
    },
    // the k-curve: g01's signature replay keyed by doc over shingle
    // strings, truncation as a j < k filter, the error mean as a
    // pair-order-pinned fold (e16's ORDER BY pattern)
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
          FROM ke GROUP BY k""")

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
  val d24 = Query("d24_span_removal", (s, dir) => {
      val spans = d15.build(s, dir)
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
    },
    // span removal: d15's verified span body, tokens zipped with their
    // 1-based positions, NOT EXISTS containment, position-ordered
    // string_agg — the same surgery the Spark anti-join performs
    s"""WITH spans AS (${d15.oracle}),
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
          FROM documents d LEFT JOIN agg USING (doc_id)""")

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
  val d25 = Query("d25_scrub_dedup", (s, dir) => {
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
    },
    // d18's two-fingerprint audit shape with the scrub stage in place of
    // normalization: crawl(salt) plants salt-dependent session PII on
    // mod-2 docs, the re-crawl replays it under salt 2 + shifted ids
    {
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
    })

  // d13's verdict with the chain's t39 LM-fluency gate on — the CCNet
  // ordering: heuristic quality → LM perplexity filter → dedup →
  // decontamination. The gate runs THE SAME LmFluency.score body the
  // oracle-verified t39 runs (and the oracle embeds t39's verified
  // SQL). Distributed shape: one map-side broadcast-scored explode
  // plus a doc_id-keyed agg on top of d13's plan — no new corpus-sized
  // shuffle.
  val d26 = Query("d26_verdict_lm", (s, dir) => dedupVerdict(s, dir, lmGate = true),
    verdictOracle(lmGate = true))

  val all: Seq[Query] = Seq(d01, d02, d03, d04, d05, d06, d07, d08, d09, d10,
    d11, d12, d13, d14, d15, d16, d17, d18, d19, d20, d21, d22, d23, d24, d25,
    d26)
}

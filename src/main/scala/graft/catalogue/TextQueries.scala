package graft.catalogue

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.NorthStar._
import graft.oracle.OracleSql._
import graft.functions.{Hashing, TextFunctions => TF}

/**
 * The text tier: tokenization, language ID, quality and PII filters,
 * lexical statistics and search over the harness documents.
 */
object TextQueries {

  val t01 = Query("t01_token_count", (s, dir) =>
      docs(s, dir).select(col("doc_id"), TF.tokenCount(col("text")).as("n_tokens")),
    s"SELECT doc_id, CAST(len($sqlToks) AS INT) AS n_tokens FROM documents")

  val t02 = Query("t02_quality", (s, dir) =>
      docs(s, dir).select(col("doc_id") +: TF.qualityColumns(col("text")): _*),
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
          FROM documents""")

  val t03 = Query("t03_lang_id", (s, dir) =>
      docs(s, dir).select(col("doc_id"), TF.langId(col("text")).as("lang_pred")),
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
          FROM v""")

  // signatures: md5 fingerprint (oracled in d01) + custom-expression
  // rolling hash / simhash (not SQL-expressible → rows-only check)
  val t04 = Query("t04_signatures", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TF.fingerprint(col("text")).as("fp_md5"),
        Hashing.rollingHash(TF.tokens(col("text"))).as("rolling"),
        Hashing.simhash64(TF.tokens(col("text"))).as("simhash")),
    s"""WITH base AS (SELECT doc_id, $sqlToks AS tk FROM documents),
            h AS (SELECT doc_id, md5(array_to_string(tk, ' ')) AS fp_md5,
                     list_transform(tk, t -> ${fnvSql("t")}) AS hs FROM base)
          SELECT doc_id, fp_md5,
                 ${signedSql(rollingSql("hs"))} AS rolling,
                 ${signedSql(simhashSql("hs"))} AS simhash
          FROM h""")

  // BPE-ish pre-tokenizer count (subword-cost proxy for data budgeting)
  val t05 = Query("t05_token_bpe", (s, dir) =>
      docs(s, dir).select(col("doc_id"), TF.bpeTokenCount(col("text")).as("n_bpe")),
    // DuckDB string literals are escape-free, so the Java regex drops in
    // verbatim (RE2 and java.util.regex agree on this pattern class)
    s"""SELECT doc_id, CAST(len(regexp_extract_all(lower(text),
            '${TF.bpePattern}')) AS INT) AS n_bpe
          FROM documents""")

  // quality scoring applied as the filter it exists for: keep/drop
  // verdict per document from the t02 heuristics
  val t06 = Query("t06_quality_filter", (s, dir) =>
      docs(s, dir).select(col("doc_id"), TF.qualityKeep(col("text")).as("keep")),
    s"""SELECT doc_id, ($t06Sql) AS keep FROM documents""")

  // PII redaction over the corpus. The harness documents are synthetic
  // word-salad with zero PII-shaped spans, so a bare scrub would be a
  // vacuous no-op green; instead both engines deterministically INJECT
  // a synthetic email + phone per row (derived from doc_id) and the
  // oracle verifies the redaction actually fires on every row. The
  // patterns are RE2-safe so Spark (Java regex) and DuckDB (RE2) agree.
  val t07 = Query("t07_pii_scrub", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("text_pii"))
        .select(col("doc_id"), TF.redactPii(col("text_pii")).as("clean")),
    s"""SELECT doc_id,
            ${TF.piiClasses.take(2).foldLeft(
              """text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or +1-555-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')""")(
              scrubClassSql)} AS clean
          FROM documents""")

  // rare-term extraction (keyword/quality signal): global document
  // frequency per term, joined back and reduced to each document's 3
  // rarest terms via the custom TopKPerKey physical operator (bounded
  // heaps, no per-doc sort) — the df table is vocabulary-sized, so the
  // join broadcasts. Ties break on (df, term), a total order per doc.
  val t08 = Query("t08_rare_terms", (s, dir) => {
      val tk = docs(s, dir).select(col("doc_id"),
        explode(array_distinct(TF.tokens(col("text")))).as("term"))
      val dfreq = tk.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val joined = tk.join(broadcast(dfreq), "term")
        .select(col("doc_id"), col("term"), col("df"))
      graft.operators.Relational.topKPerKey(
        joined, Seq("doc_id"), Seq(col("df").asc, col("term").asc), 3)
    },
    s"""WITH tk AS (SELECT doc_id, unnest(list_distinct($sqlToks)) AS term
                      FROM documents),
             d AS (SELECT term, count(*) AS df FROM tk GROUP BY 1),
             r AS (SELECT tk.doc_id, tk.term, d.df,
                     row_number() OVER (PARTITION BY tk.doc_id
                                        ORDER BY d.df, tk.term) AS rn
                   FROM tk JOIN d USING (term))
          SELECT doc_id, term, df FROM r WHERE rn <= 3""")

  // deterministic train/val/test split — the reproducibility-critical
  // sampling primitive of a training-data pipeline: bucket = integer
  // value of the first 8 md5 hex chars of the doc id, mod 100. ID-
  // stable (no RNG, no partition dependence), re-runnable anywhere, and
  // exactly reproducible in SQL. Note this is keyed on doc_id, so a
  // re-ingest under a new id re-rolls the bucket; the leakage-proof
  // CONTENT-stable form (hash of the text fingerprint) is what
  // CorpusPipeline's split stage uses.
  val t09 = Query("t09_split_assign", (s, dir) => {
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
      docs(s, dir).select(col("doc_id"), pmod(h, lit(100L)).as("bucket_100"))
        .withColumn("split",
          when(col("bucket_100") < 90, "train")
            .when(col("bucket_100") < 95, "val")
            .otherwise("test"))
    },
    s"""WITH h AS (SELECT doc_id,
             ${md5HexIntSql("CAST(doc_id AS VARCHAR)")} AS hv
           FROM documents)
         SELECT doc_id, hv % 100 AS bucket_100,
                CASE WHEN hv % 100 < 90 THEN 'train'
                     WHEN hv % 100 < 95 THEN 'val'
                     ELSE 'test' END AS split
         FROM h""")

  // exact stratified sampling: a deterministic 10% per source, taken as
  // the first ⌈0.1·n⌉ docs in md5-hash order within each stratum —
  // content-stable (re-runs and cluster layout can't change the
  // sample), exact per-stratum fraction (rate-based Bernoulli sampling
  // only approximates it), one shuffle on source.
  val t10 = Query("t10_stratified_sample", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
      docs(s, dir).select(col("doc_id"), col("source")).withColumn("h", h)
        .withColumn("rn", row_number().over(
          w.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))))
        .withColumn("n_src", count(lit(1)).over(w.partitionBy(col("source"))))
        .filter(col("rn") <= ceil(col("n_src") * 0.1))
        .select(col("doc_id"), col("source"))
    },
    s"""WITH h AS (SELECT doc_id, source,
             ${md5HexIntSql("CAST(doc_id AS VARCHAR)")} AS hv
           FROM documents),
           r AS (SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n_src
           FROM h)
         SELECT doc_id, source FROM r WHERE rn <= ceil(n_src * 0.1)""")

  // within-document repetition signals (Gopher/C4-style quality rules):
  // duplicate-token fraction and top-term fraction per document. The
  // per-row mode can't be a per-row expression without O(n²) work, so
  // this is the distributed shape: explode → (doc_id, term) counts
  // (map-side combined) → per-doc moments — two shuffles whose keys
  // both contain doc_id, text never moves. Empty docs surface as 0.0
  // via the left join, not silently dropped by the explode.
  val t11 = Query("t11_repetition", (s, dir) => {
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
    },
    s"""WITH tk AS (SELECT doc_id, unnest($sqlToks) AS term FROM documents),
            c AS (SELECT doc_id, term, count(*) AS c FROM tk GROUP BY 1, 2),
            st AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS nd,
                          CAST(MAX(c) AS BIGINT) AS mx
                   FROM c GROUP BY 1)
          SELECT d.doc_id,
                 COALESCE(CAST(n - nd AS DOUBLE) / n, 0.0) AS dup_token_ratio,
                 COALESCE(CAST(mx AS DOUBLE) / n, 0.0) AS top_term_ratio
          FROM documents d LEFT JOIN st USING (doc_id)""")

  // benchmark decontamination (the GPT-3-style n-gram overlap check):
  // the held-out eval set (source 'src0' stands in for a benchmark
  // suite) is reduced to its distinct 5-gram shingle hashes and
  // BROADCAST — eval suites are KB-to-MB-scale metadata next to a
  // 100 TB corpus, so the corpus side takes a broadcast left-semi probe
  // and never shuffles for the membership test; the only exchanges are
  // the per-doc counts, both keyed by doc_id (co-partitioned, reused).
  // 5-grams (not 3) keep the random-collision floor near zero so a
  // nonzero overlap is a real contamination signal.
  val t12 = Query("t12_decontaminate", (s, dir) => {
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
    },
    // oracle works on shingle STRINGS where Spark moves 64-bit hashes —
    // identical counts up to FNV64 collisions (same contract as d03)
    s"""WITH tk AS (SELECT doc_id, source, $sqlToks AS tks FROM documents),
            s AS (SELECT doc_id, source, unnest(${sqlShinglesN("tks", 5)}) AS s
                  FROM tk),
            ev AS (SELECT DISTINCT s FROM s WHERE source = 'src0'),
            cp AS (SELECT doc_id, count(*) AS n_shingles,
                     count(*) FILTER (WHERE s IN (SELECT s FROM ev)) AS n_shared
                   FROM s WHERE source <> 'src0' GROUP BY 1)
          SELECT doc_id, n_shingles, n_shared,
                 n_shared > 0 AS contaminated
          FROM cp""")

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
  val t13 = Query("t13_bm25_search", (s, dir) => {
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
    },
    // the idf/tf arithmetic is written as the exact same single-op
    // sequence as the Spark expressions (log-free idf; see the query)
    s"""WITH $bm25WithClauses
          SELECT doc_id, score FROM sc WHERE score > 0.0
          ORDER BY score DESC, doc_id LIMIT 10""")

  // one BPE-style merge iteration — the corpus-wide step of tokenizer
  // training: count every adjacent token pair and take the top-20 merge
  // candidates. explode keeps the fan-out inside the scan task; the
  // only shuffle carries (pair, partial count) after map-side combine,
  // and the top-20 is a TakeOrderedAndProject (no global sort).
  val t14 = Query("t14_bpe_merge", (s, dir) =>
      docs(s, dir)
        .select(TF.tokens(col("text")).as("tks"))
        .filter(size(col("tks")) >= 2)
        .select(explode(transform(sequence(lit(0), size(col("tks")) - 2),
          i => concat(element_at(col("tks"), i + 1), lit(" "),
                      element_at(col("tks"), i + 2)))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20),
    s"""WITH tk AS (SELECT $sqlToks AS tks FROM documents),
            p AS (SELECT unnest(list_transform(range(1, len(tks)),
                    i -> tks[i] || ' ' || tks[i+1])) AS pair
                  FROM tk WHERE len(tks) >= 2)
          SELECT pair, count(*) AS n FROM p GROUP BY 1
          ORDER BY n DESC, pair LIMIT 20""")

  // data-mixing weights — temperature-based source sampling (the
  // multi-corpus mixing step of a training-data pipeline): per-source
  // token mass, α = 0.5 temperature (w ∝ n_tokens^α), normalized over
  // the source set. Sources are bounded metadata, so the normalizer is
  // a sorted fold over a handful of per-source weights (order-pinned —
  // deterministic float sum) broadcast back to the per-source rows.
  // sqrt is IEEE-correctly-rounded, so x^0.5 is engine-stable where a
  // general pow/ln would not be.
  val t15 = Query("t15_mix_weights", (s, dir) => {
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
    },
    s"""WITH per AS (SELECT source, count(*) AS n_docs,
                         CAST(SUM(len($sqlToks)) AS BIGINT) AS n_tokens
                       FROM documents GROUP BY 1),
            w AS (SELECT source, n_docs, n_tokens,
                    sqrt(CAST(n_tokens AS DOUBLE)) AS w_raw FROM per),
            dn AS (SELECT list_reduce(list_prepend(0.0, list(w_raw ORDER BY source)),
                     (a, x) -> a + x) AS denom FROM w)
          SELECT source, n_docs, n_tokens, w_raw / denom AS weight FROM w, dn""")

  // positional phrase search ("fast merge") over an inverted positional
  // index: each query term's postings are filtered BEFORE any shuffle
  // (term-selective — the classic posting-list win), then consecutive
  // positions align via an equi-join on (doc_id, position). Per-doc
  // occurrence counts come out of the same doc_id partitioning.
  val t16 = Query("t16_phrase_search", (s, dir) => {
      val (w1, w2) = ("fast", "merge")
      val pos = docs(s, dir)
        .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("p", "term")))
      val firsts = pos.filter(col("term") === w1).select(col("doc_id"), col("p"))
      val seconds = pos.filter(col("term") === w2)
        .select(col("doc_id"), (col("p") - 1).as("p"))
      firsts.join(seconds, Seq("doc_id", "p"), "inner")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matches"))
    },
    s"""WITH tk AS (SELECT doc_id, $sqlToks AS tks FROM documents),
            p AS (SELECT doc_id, unnest(list_transform(range(1, len(tks)),
                    i -> tks[i] || ' ' || tks[i+1])) AS pair FROM tk)
          SELECT doc_id, count(*) AS n_matches FROM p
          WHERE pair = 'fast merge' GROUP BY 1""")

  // bigram language-model estimation — the count side of KN/MLE LM
  // training over a corpus: P(w2|w1) = c(w1 w2) / c(w1 ·), where the
  // denominator is the context's total CONTINUATION count (sum of its
  // bigram counts — a doc's last token is no one's context). Counts
  // are exact integers; the conditional is one exact-int division per
  // row, so the probabilities hash-match cross-engine. Bigram fan-out
  // stays in the scan task; the context totals are vocabulary-sized
  // and broadcast back. Top-30 by raw count (TakeOrdered).
  val t17 = Query("t17_bigram_lm", (s, dir) => {
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
    },
    s"""WITH tk AS (SELECT $sqlToks AS tks FROM documents),
            p AS (SELECT unnest(list_transform(range(1, len(tks)),
                    i -> struct_pack(w1 := tks[i], w2 := tks[i+1]))) AS pr
                  FROM tk WHERE len(tks) >= 2),
            c2 AS (SELECT pr.w1 AS w1, pr.w2 AS w2, count(*) AS c2 FROM p GROUP BY 1, 2),
            c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1)
          SELECT w1, w2, c2,
                 CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p_cond
          FROM c2 JOIN c1 USING (w1)
          ORDER BY c2 DESC, w1, w2 LIMIT 30""")

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
  val t18 = Query("t18_weighted_sample", (s, dir) => {
      val k = 50L
      val cw = graft.operators.Relational.withRunningTotal(
        docs(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", "cw")
      val tot = cw.agg(max(col("cw")).as("tw"))
      cw.crossJoin(broadcast(tot))
        .filter(expr(s"(cw * $k) div tw > ((cw - n_chars) * $k) div tw"))
        .select(col("doc_id"), col("n_chars"))
    },
    """WITH c AS (SELECT doc_id, n_chars,
                      SUM(n_chars) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
                    FROM documents),
         t AS (SELECT max(cw) AS tw FROM c)
         SELECT doc_id, n_chars FROM c, t
         WHERE (cw * 50) // tw > ((cw - n_chars) * 50) // tw""")

  // model-based document scoring — the distributed shape of
  // classifier/LM quality filtering at corpus scale: a model small
  // enough to broadcast (here t17's bigram table, vocabulary²-bounded)
  // scores every document in a single pass, no shuffle of text. The
  // score is the mean conditional probability of the doc's bigrams —
  // a fluency/typicality signal; probabilities are exact-integer
  // ratios and the per-doc mean folds them in position order (sorted
  // fold, e04's determinism pattern), so scores hash-match
  // cross-engine without any log/exp.
  val t19 = Query("t19_lm_score", (s, dir) => {
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
    },
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
         FROM documents d LEFT JOIN sc USING (doc_id)""")

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
  val t20 = Query("t20_pack_sequences", (s, dir) => {
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
    },
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
         FROM w""")

  // feature hashing (the hashing trick) — bag-of-words → fixed 32-dim
  // signed-count vectors, the featurization step feeding linear
  // quality classifiers at corpus scale: no vocabulary table, no
  // fitting, dimension fixed a priori. bucket = FNV(token) mod 32 and
  // the debiasing sign = bit 5 of the hash — both residues of 2^64
  // divisors, so signed arithmetic equals the unsigned definition and
  // the oracle replays it in HUGEINT. Counts are exact ints; the
  // vector serializes canonically like e02's q8.
  val t21 = Query("t21_feature_hash", (s, dir) => {
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
    },
    {
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
    })

  // classifier evaluation — the metrics step of every model-based
  // filter (t03's lang-ID evaluated against the table's gold labels):
  // per-(gold, predicted) confusion counts plus per-class precision
  // and recall as exact integer ratios (single divisions — engine-
  // stable). The confusion matrix is classes², bounded metadata; the
  // only corpus-sized work is the one count aggregation.
  val t22 = Query("t22_langid_eval", (s, dir) => {
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
    },
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
         FROM conf JOIN g USING (lang) JOIN pr USING (lang_pred)""")

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
  val t23 = Query("t23_ngram_novelty", (s, dir) => {
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
    },
    s"""WITH g AS (SELECT doc_id, unnest($sqlShingles) AS gram FROM documents),
            df AS (SELECT gram, count(*) AS df FROM g GROUP BY 1),
            p AS (SELECT doc_id, count(*) AS n_grams,
                    CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_dup_grams
                  FROM g JOIN df USING (gram) GROUP BY 1)
          SELECT doc_id, n_grams, n_dup_grams,
                 CAST(1.0 AS DOUBLE) - CAST(n_dup_grams AS DOUBLE)
                   / CAST(n_grams AS DOUBLE) AS novelty
          FROM p""")

  // deterministic global training-order shuffle — the "shuffle the
  // corpus each epoch" primitive: order key = md5 of (doc_id, epoch
  // tag), position = dense 1..n rank in that order via the
  // DISTRIBUTED serial-id machinery (range partition on the key +
  // per-partition offsets — q28's shape), NOT a single-task global
  // window. Because the key is a uniform hash, the range partitioner's
  // sampled boundaries give near-equal partitions regardless of how
  // skewed the natural ids are, and a new epoch is just a new tag —
  // no RNG state, reproducible on any cluster layout.
  val t24 = Query("t24_global_shuffle", (s, dir) => {
      val h = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit(":epoch0"))), 1, 8), 16, 10).cast("long")
      val keyed = docs(s, dir).select(col("doc_id"), h.as("shuffle_key"))
      graft.operators.Relational.withSerialIdDistributed(
        keyed, Seq(col("shuffle_key"), col("doc_id")), "pos")
    },
    s"""WITH h AS (SELECT doc_id,
             ${md5HexIntSql("CAST(doc_id AS VARCHAR) || ':epoch0'")} AS shuffle_key
           FROM documents)
         SELECT doc_id, shuffle_key,
                row_number() OVER (ORDER BY shuffle_key, doc_id) AS pos
         FROM h""")

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
  val t25 = Query("t25_rag_chunk", (s, dir) => {
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
    },
    // list_slice (not bracket slicing) — the bracket form returns NULL
    // on an empty list where Spark's slice returns an empty array
    s"""WITH tk AS (SELECT doc_id, $sqlToks AS tks FROM documents),
            st AS (SELECT doc_id, tks,
                     unnest(range(0, greatest(len(tks) - 1, 0) + 1, 16)) AS start
                   FROM tk)
          SELECT doc_id, start // 16 AS chunk_idx, start,
                 CAST(len(list_slice(tks, start + 1, start + 32)) AS BIGINT)
                   AS n_tokens,
                 array_to_string(list_slice(tks, start + 1, start + 32), ' ')
                   AS chunk_text
          FROM st""")

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
  val t26 = Query("t26_tfidf_keywords", (s, dir) => {
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
    },
    // log-free idf: (N+1)/(df+1) in one divide, products before the
    // compare — same single-IEEE-op sequence as the Spark expressions
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
          SELECT doc_id, term, tfidf FROM r WHERE rn <= 3""")

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
  val t27 = Query("t27_quality_classifier", (s, dir) => {
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
    },
    // t21's hash algebra (bit-5 sign, mod-32 bucket) + the second FNV
    // draw over the bucket string for the weight; all-integer until the
    // one score division, so the replay is exact
    {
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
    })

  // corpus DATASHEET — the per-source release report every corpus
  // ships with (datasheets-for-datasets shape): document and token
  // counts, exact duplicate ratio (distinct fingerprints vs docs),
  // dominant language and its share. Pure composition of the tier's
  // primitives (t01 token count, d01 fingerprint, t03's lang column)
  // reduced to |sources| rows: two source-keyed aggregations + a
  // per-source mode window over the tiny (source, lang) count table +
  // one broadcast-scale join — nothing in the plan scales with corpus
  // size except the two map-side-combined scans.
  val t28 = Query("t28_corpus_datasheet", (s, dir) => {
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
    },
    // t01's token count + d01's fingerprint + a per-source mode window;
    // integer counts until the two share divisions
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
         FROM a JOIN top t ON a.source = t.source AND t.rn = 1""")

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
  val t29 = Query("t29_normalize", (s, dir) => {
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
    },
    // same deterministic dirtying (chr(769) = U+0301, chr(7) = BEL),
    // DuckDB's nfc_normalize implements the same UAX #15 composition as
    // the JDK Normalizer behind graft's NfcNormalize; note DuckDB
    // regexp_replace needs the explicit 'g' flag (Spark's is global)
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
         FROM c""")

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
  val t30 = Query("t30_vocab_growth", (s, dir) => {
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
    },
    // id-range cohorts, min-decile first occurrence per type, 10-row
    // cumulative window — decile values are unique so DuckDB's default
    // RANGE frame equals Spark's
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
          FROM tc LEFT JOIN nv ON nv.decile = tc.decile""")

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
  val t31 = Query("t31_source_caps", (s, dir) => {
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
    },
    // same window shape (PARTITION BY source, n_tokens DESC, doc_id) and
    // the same inclusive-cumsum-fits-cap rule; all-integer comparisons
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
          FROM k GROUP BY source""")

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
  val t32 = Query("t32_lexical_diversity", (s, dir) => {
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
    },
    // same integer moments, and the two divides written as the same
    // single-op double expressions (cast-then-divide; the denominator
    // product stays integer until the cast)
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
          FROM st""")

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
  val t33 = Query("t33_boilerplate", (s, dir) => {
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
    },
    // same df/argmax/flag algebra; shingles distinct per doc in both
    // engines, tie order (df DESC, gram ASC) replayed verbatim
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
          FROM nd JOIN top USING (source) LEFT JOIN fl USING (source)""")

  // per-source tokenizer FERTILITY — BPE tokens per whitespace word
  // and chars per BPE token, the standard tokenizer-health panel for
  // a multi-source corpus (a source whose fertility is far above the
  // fleet's burns context length and signals poor tokenizer coverage
  // — the number teams check before committing a vocab). Pure
  // per-row counts (t01's whitespace tokens, t05's BPE regex) folded
  // by source: integer sums, two guarded divides, exactly replayed.
  val t34 = Query("t34_token_fertility", (s, dir) =>
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
            .otherwise(lit(0.0)).as("chars_per_token")),
    // same per-row counts and guarded cast-then-divide sequences
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
          FROM ag""")

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
  val t35 = Query("t35_pii_audit", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          piiInject(col("text"), col("doc_id")).as("tp"))
        .select(col("doc_id") +:
          TF.piiClasses.map(c =>
            TF.piiCount(col("tp"), c).as(s"n_${c.label.toLowerCase}")) :+
          TF.scrubPii(col("tp")).as("clean"): _*),
    // detection counts + the five-class scrub over the same injected text
    s"""WITH tp AS (SELECT doc_id, $piiInjectSql AS t FROM documents)
          SELECT doc_id,
                 ${TF.piiClasses.map(c =>
                   countSql("t", c) + s" AS n_${c.label.toLowerCase}")
                   .mkString(",\n                 ")},
                 ${scrubSql("t")} AS clean
          FROM tp""")

  // keyed pseudonymization — the scrub variant that PRESERVES linkage:
  // every email/phone is replaced by `<EMAIL:fnv64(key|value)>`, so
  // equal identifiers collapse to equal tags across documents (mod-10
  // docs share one planted address and keep a common tag; every
  // doc-specific address stays distinct) while the raw value needs the
  // key. Per-row literal fold over the match list in pinned
  // longest-first order (substring-related values fold container
  // first — see TF.pseudonymizeWith); FNV is the
  // engine-replayable hash the oracle regenerates byte-for-byte.
  val t36 = Query("t36_pii_pseudonymize", (s, dir) =>
      linkInjected(docs(s, dir))
        .select(col("doc_id"),
          TF.pseudonymizePii(col("tp"), piiKey).as("pseudo")),
    // staged CTEs: one pseudoSql pass per class, exactly the Spark-side
    // sub(sub(text, EMAIL), PHONE) composition
    s"""WITH tp AS (SELECT doc_id, $linkInjectSql AS t FROM documents),
          p1 AS (SELECT doc_id,
                   ${pseudoSql("t", TF.piiClasses(0), fnvTagSql("EMAIL"))} AS t
                 FROM tp)
          SELECT doc_id,
                 ${pseudoSql("t", TF.piiClasses(1), fnvTagSql("PHONE"))} AS pseudo
          FROM p1""")

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
  val t37 = Query("t37_rtbf_forget", (s, dir) => {
      val target = "audit@example.net"
      linkInjected(docs(s, dir))
        .select(col("doc_id"),
          TF.pseudonymizePii(col("tp"), piiKey).as("pseudo"))
        .filter(TF.linksTo(col("pseudo"), "EMAIL", piiKey, target))
        .select(col("doc_id"),
          TF.forgetValue(col("pseudo"), "EMAIL", piiKey, target).as("pseudo"))
    },
    // t36's pseudonymized corpus filtered to the one identifier's tag
    // (re-derived from scratch: fnv64 over 'key|audit@example.net'),
    // tag erased
    s"""WITH tp AS (SELECT doc_id, $linkInjectSql AS t FROM documents),
          p1 AS (SELECT doc_id,
                   ${pseudoSql("t", TF.piiClasses(0), fnvTagSql("EMAIL"))} AS t
                 FROM tp),
          q AS (SELECT doc_id,
                  ${pseudoSql("t", TF.piiClasses(1), fnvTagSql("PHONE"))} AS pseudo
                FROM p1),
          tag AS (SELECT ${fnvTagSql("EMAIL")("'audit@example.net'")} AS tg)
          SELECT doc_id, replace(pseudo, tg, '<FORGOTTEN>') AS pseudo
          FROM q, tag WHERE contains(pseudo, tg)""")

  // MAC-grade pseudonymization — same linkage semantics as t36, tags
  // from the nested digest sha256(key|sha256(key|value)) truncated to
  // 128 bits: the release-grade variant whose tags resist dictionary
  // attacks and hash-state recovery (the FNV tags' documented
  // weakness). Both engines compose the digests over lowercase hex
  // strings, so the oracle regenerates every tag byte-for-byte.
  val t38 = Query("t38_pii_mac", (s, dir) =>
      linkInjected(docs(s, dir))
        .select(col("doc_id"),
          TF.pseudonymizePiiMac(col("tp"), piiKey).as("pseudo")),
    // the MAC variant: same staged composition, nested-sha256 tags
    s"""WITH tp AS (SELECT doc_id, $linkInjectSql AS t FROM documents),
          p1 AS (SELECT doc_id,
                   ${pseudoSql("t", TF.piiClasses(0), macTagSql("EMAIL"))} AS t
                 FROM tp)
          SELECT doc_id,
                 ${pseudoSql("t", TF.piiClasses(1), macTagSql("PHONE"))} AS pseudo
          FROM p1""")

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
  val t39 = Query("t39_lm_fluency", (s, dir) => {
      val d = docs(s, dir)
      graft.operators.LmFluency.score(
        d.filter(col("source") === "src0").select(col("text")),
        d.filter(col("source") =!= "src0").select(col("doc_id"), col("text")))
    },
    // bigram LM trained on src0, scored log-free: integer truncating
    // division replays Spark's `div` exactly, ratios are one IEEE
    // divide, the keep gate is a cross-multiplied integer compare
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
            LEFT JOIN sc USING (doc_id)""")

  // right-to-be-forgotten over the MAC-pseudonymized corpus — t37's
  // deletion path lifted to the release-grade t38 variant: the
  // deletion target's nested-sha256 tag is a DRIVER-COMPUTED constant
  // (TF.pseudoTagMac, re-derived from scratch by the oracle), so the
  // linked-document scan is the same map-only `contains` predicate —
  // no join, no shuffle — and the re-scrub the same literal replace.
  // MAC tags keep deletion FINDABLE (any key holder derives the
  // value's tag) while a tag alone reveals nothing about other values.
  val t40 = Query("t40_rtbf_mac_forget", (s, dir) => {
      val target = "audit@example.net"
      linkInjected(docs(s, dir))
        .select(col("doc_id"),
          TF.pseudonymizePiiMac(col("tp"), piiKey).as("pseudo"))
        .filter(TF.linksToMac(col("pseudo"), "EMAIL", piiKey, target))
        .select(col("doc_id"),
          TF.forgetValueMac(col("pseudo"), "EMAIL", piiKey, target).as("pseudo"))
    },
    // t38's MAC corpus filtered to the deletion target's tag (re-derived
    // from scratch: nested sha256 over 'key|audit@example.net'), tag
    // erased — the release-grade RTBF twin of t37
    s"""WITH tp AS (SELECT doc_id, $linkInjectSql AS t FROM documents),
          p1 AS (SELECT doc_id,
                   ${pseudoSql("t", TF.piiClasses(0), macTagSql("EMAIL"))} AS t
                 FROM tp),
          q AS (SELECT doc_id,
                  ${pseudoSql("t", TF.piiClasses(1), macTagSql("PHONE"))} AS pseudo
                FROM p1),
          tag AS (SELECT ${macTagSql("EMAIL")("'audit@example.net'")} AS tg)
          SELECT doc_id, replace(pseudo, tg, '<FORGOTTEN>') AS pseudo
          FROM q, tag WHERE contains(pseudo, tg)""")

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
  val t41 = Query("t41_rtbf_batch", (s, dir) =>
      graft.operators.Rtbf.forgetAll(
        linkInjected(docs(s, dir)).select(col("doc_id"),
          TF.pseudonymizePii(col("tp"), piiKey).as("pseudo")),
        "pseudo", rtbfLedger(s), piiKey, mac = false),
    // the batch ledger over t36's corpus: three tag constants re-derived
    // from the ledger literals, the replace fold over all of them
    // (order-free — tags are disjoint complete spans), linked = any tag
    s"""WITH tp AS (SELECT doc_id, $linkInjectSql AS t FROM documents),
          p1 AS (SELECT doc_id,
                   ${pseudoSql("t", TF.piiClasses(0), fnvTagSql("EMAIL"))} AS t
                 FROM tp),
          q AS (SELECT doc_id,
                  ${pseudoSql("t", TF.piiClasses(1), fnvTagSql("PHONE"))} AS pseudo
                FROM p1),
          ${rtbfBatchSql(fnvTagSql)}""")

  // the MAC-family batch RTBF — t40's release-grade tags under the
  // same one-pass multi-request contract
  val t42 = Query("t42_rtbf_batch_mac", (s, dir) =>
      graft.operators.Rtbf.forgetAll(
        linkInjected(docs(s, dir)).select(col("doc_id"),
          TF.pseudonymizePiiMac(col("tp"), piiKey).as("pseudo")),
        "pseudo", rtbfLedger(s), piiKey, mac = true),
    // the same ledger over t38's MAC corpus
    s"""WITH tp AS (SELECT doc_id, $linkInjectSql AS t FROM documents),
          p1 AS (SELECT doc_id,
                   ${pseudoSql("t", TF.piiClasses(0), macTagSql("EMAIL"))} AS t
                 FROM tp),
          q AS (SELECT doc_id,
                  ${pseudoSql("t", TF.piiClasses(1), macTagSql("PHONE"))} AS pseudo
                FROM p1),
          ${rtbfBatchSql(macTagSql)}""")

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
  val t43 = Query("t43_rtbf_cascade", (s, dir) =>
      graft.operators.Rtbf.cascadeAudit(
        linkInjected(docs(s, dir)).select(col("doc_id"),
          TF.pseudonymizePii(col("tp"), piiKey).as("pseudo")),
        "pseudo", rtbfLedger(s), piiKey, mac = false,
        derived = Seq("fp" -> TF.fingerprint(col("pseudo"))),
        artifact = emb(s, dir), artifactIdCol = "vec_id"),
    // the cascade audit over t36's corpus: the t41 fold widened to every
    // row (linked as a flag), fp re-derived from the REWRITTEN pseudo by
    // the d01 md5-of-tokens twin, and the embeddings purge's remaining
    // count (0 exactly on the linked set)
    s"""WITH tp AS (SELECT doc_id, $linkInjectSql AS t FROM documents),
          p1 AS (SELECT doc_id,
                   ${pseudoSql("t", TF.piiClasses(0), fnvTagSql("EMAIL"))} AS t
                 FROM tp),
          q AS (SELECT doc_id,
                  ${pseudoSql("t", TF.piiClasses(1), fnvTagSql("PHONE"))} AS pseudo
                FROM p1),
          ${rtbfCascadeSql(fnvTagSql)}""")

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
  val t44 = Query("t44_mojibake", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), mojiInject(col("text"), col("doc_id")).as("tq"))
        .select(col("doc_id") +: TF.mojibakeColumns(col("tq")): _*),
    // per-family literal-fold counts over the SAME injected codepoints
    // (chr-rebuilt), keep flag = all-zero
    s"""WITH tq AS (SELECT doc_id, $mojiInjectSql AS t FROM documents)
          SELECT doc_id,
                 ${mojiCountSql("t", TF.replacementMark)} AS n_replacement,
                 ${TF.c1Marks.map(mojiCountSql("t", _)).mkString(" + ")} AS n_c1,
                 ${TF.doubleEncodeMarks.map(mojiCountSql("t", _)).mkString(" + ")} AS n_double,
                 (${mojiCountSql("t", TF.replacementMark)}
                  + ${TF.c1Marks.map(mojiCountSql("t", _)).mkString(" + ")}
                  + ${TF.doubleEncodeMarks.map(mojiCountSql("t", _)).mkString(" + ")}) = 0 AS clean
          FROM tq""")

  val all: Seq[Query] = Seq(t01, t02, t03, t04, t05, t06, t07, t08, t09, t10,
    t11, t12, t13, t14, t15, t16, t17, t18, t19, t20, t21, t22, t23, t24, t25,
    t26, t27, t28, t29, t30, t31, t32, t33, t34, t35, t36, t37, t38, t39, t40,
    t41, t42, t43, t44)
}

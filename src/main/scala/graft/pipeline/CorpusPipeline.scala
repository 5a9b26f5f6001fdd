package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.{TextFunctions => TF}
import graft.operators.Dedup

/**
 * End-to-end LLM training-corpus preparation — the COMPOSITION of the
 * north-star operators into the pipeline a user actually runs (each
 * stage is individually oracle-verified as a harness query; this driver
 * chains them):
 *
 *   0. PII scrub               (t35's four-class redaction — BEFORE any
 *                               fingerprinting, so volatile per-crawl PII
 *                               cannot split dup clusters: the d25
 *                               witness)
 *   0b. encoding-damage gate   (optional, t44's mojibake keep flag —
 *                               decode damage the quality ratios cannot
 *                               see, dropped before fingerprinting)
 *   1. quality filter          (t06's keep rules)
 *   1b. LM-fluency gate        (optional, t39's bigram-LM keep rule —
 *                               the CCNet ordering: heuristic quality,
 *                               then LM perplexity filter, then dedup)
 *   2. exact dedup             (d02: min-doc_id survivor per fingerprint)
 *   3. near-dup dedup          (d03 pairs → d06 clusters → d07 keep rule:
 *                               longest text per cluster)
 *   4. decontamination         (t12: drop docs sharing 5-gram shingles
 *                               with the held-out eval source)
 *   5. split assignment        (t09: content-stable md5 train/val/test)
 *
 * Dataflow discipline (the 100 TB contract): document TEXT is read once
 * into the shingle/fingerprint projections; every stage communicates by
 * doc_id keep-sets joined back as left_semi/left_anti (the text column
 * never crosses a shuffle), and stage counts come from the same lazily
 * composed plan — materialized once per stage for the stats report.
 */
object CorpusPipeline {

  /** Per-stage document counts, in pipeline order. */
  case class StageStats(stage: String, docs_in: Long, docs_out: Long)

  case class Result(corpus: DataFrame, stats: Seq[StageStats])

  /**
   * Run the full preparation over a documents table
   * (doc_id, text, lang, source, n_chars).
   *
   * @param evalSource  the source treated as the held-out eval suite for
   *                    decontamination (t12's contract)
   * @param jaccard     near-dup threshold on 3-gram shingle Jaccard
   * @param lshPairs    near-dup pair stage: false = exact prefix-filter
   *                    join (guaranteed recall; the d13 oracle shape);
   *                    true = MinHash-LSH banded candidates + exact
   *                    verify (sub-quadratic candidate volume — the
   *                    stage a 100 TB corpus, or any corpus whose
   *                    vocabulary is small relative to its size, MUST
   *                    run: the exact join's prefix filter cannot prune
   *                    when every prefix token is hot. Recall parity of
   *                    the two stages is law-tested at scales where
   *                    both are feasible — verified pairs are EQUAL at
   *                    1x and 10x, SCALE.md).
   * @param lmFluency   when true, insert the t39 bigram-LM fluency gate
   *                    between the heuristic quality filter and dedup —
   *                    the CCNet ordering. The LM trains on the FULL
   *                    evalSource slice of the scrubbed corpus (the
   *                    curated reference is given, not quality-gated);
   *                    only non-evalSource quality survivors face the
   *                    keep gate (≥ 3/4 of transitions LM-covered),
   *                    evalSource rows bypass it (they are the
   *                    reference, and leave at decontamination). One
   *                    [[graft.operators.LmFluency.score]] body shared
   *                    with the oracle-verified t39/d26 queries.
   */
  /**
   * @param mojibakeFilter when true, insert the encoding-damage gate
   *                    (TF.mojibakeColumns' keep flag — t44's contract)
   *                    between the PII scrub and the quality filter:
   *                    decode damage is invisible to the heuristic
   *                    ratios (a mojibake'd page still scores fine) and
   *                    must drop BEFORE fingerprinting can anchor a dup
   *                    cluster on a damaged survivor. Default off — the
   *                    harness corpus is clean ASCII and the
   *                    oracle-pinned stage list predates the stage.
   */
  def run(docs: DataFrame, evalSource: String = "src0",
          jaccard: Double = 0.8, lshPairs: Boolean = false,
          lmFluency: Boolean = false,
          mojibakeFilter: Boolean = false): Result = {
    val stats = scala.collection.mutable.ArrayBuffer.empty[StageStats]
    // each stage's input IS the previous stage's output, so count each
    // frame ONCE and thread the count forward — re-counting `in` would
    // re-execute every earlier stage's uncached lineage per stage
    var prevCount = docs.count()
    def stage(name: String, out: DataFrame): DataFrame = {
      val n = out.count()
      stats += StageStats(name, prevCount, n)
      prevCount = n
      out
    }

    // 0. PII scrub — a map-only text REWRITE (docs_in == docs_out; the
    // stats row records it ran, not a drop). Placed before any
    // fingerprint/shingle projection on purpose: volatile per-crawl PII
    // (session addresses, visitor IPs) differs between captures of the
    // same page, so raw-text dedup would leak every such re-crawl —
    // d25_scrub_dedup measures exactly that split. Downstream stages
    // never see raw PII, so no identifier can reach the released corpus.
    val scrubbed0 = stage("pii_scrub",
      docs.withColumn("text", TF.scrubPii(col("text"))))

    // 0b. optional encoding-damage gate (t44's keep flag): damage is
    // per-row and content-derived, so it gates the SCRUBBED text the
    // fingerprints will see — a damaged doc must never anchor a dup
    // cluster or ship. Map-only literal scans, no new shuffle.
    val scrubbed =
      if (!mojibakeFilter) scrubbed0
      else stage("mojibake_filter",
        scrubbed0.filter(TF.mojibakeClean(col("text"))))

    // 1. quality filter — per-row expressions only; THE shared keep rule
    // (TF.qualityKeep — one definition with the streaming ingest gate).
    // Input contract: doc_id is UNIQUE in `docs` (one row per document
    // — the documents table's key; CorpusPipelineSpec asserts it). The
    // per-row filter form relies on that: under duplicated doc_ids a
    // doc_id-keyed semi-join would instead keep EVERY row of a doc_id
    // when any row passes (ADVICE r16 — intentional per-row semantics,
    // vacuously identical under the unique-key contract).
    val quality = stage("quality_filter",
      scrubbed.filter(TF.qualityKeep(col("text"))))

    // 1b. optional LM-fluency gate — map-side broadcast scoring over the
    // posexplode'd transitions plus one doc_id-keyed agg; no new
    // corpus-sized shuffle joins the pipeline (LmFluency's scale note)
    val fluent =
      if (!lmFluency) quality
      else {
        val keep = graft.operators.LmFluency.score(
            scrubbed.filter(col("source") === evalSource).select(col("text")),
            quality.filter(col("source") =!= evalSource)
              .select(col("doc_id"), col("text")))
          .filter(col("keep")).select(col("doc_id"))
          .unionByName(quality.filter(col("source") === evalSource)
            .select(col("doc_id")))
        stage("lm_fluency", quality.join(keep, Seq("doc_id"), "left_semi"))
      }

    // 2. exact dedup — keep the min doc_id per content fingerprint
    val exact = {
      val keep = fluent
        .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      stage("exact_dedup", fluent.join(keep, Seq("doc_id"), "left_semi"))
    }

    // 3. near-dup dedup — pairs → components → longest-text survivor
    val nearDup = {
      val hs = Dedup.shingleHashTable(exact, "doc_id", "text", 3).persist()
      val pairs =
        if (lshPairs) Dedup.minhashLshPairs(hs, jaccard, k = 128, bands = 32,
          estFloor = jaccard - 0.2)
        else Dedup.jaccardPairsExact(hs, jaccard)
      val comps = Dedup.connectedComponents(
        pairs.select(col("doc_a"), col("doc_b")))
      // both pair stages return a persisted frame; the components are
      // eager (collected or checkpointed), so nothing downstream reads it
      pairs.unpersist()
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
      val keep = exact.select(col("doc_id"), col("n_chars"))
        .join(comps, Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
        .withColumn("rn", row_number().over(
          w.orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"))
      val out = stage("neardup_dedup",
        exact.join(keep, Seq("doc_id"), "left_semi"))
      hs.unpersist()
      out
    }

    // 4. decontamination — drop docs overlapping the eval source's 5-grams
    val clean = {
      val sh = nearDup.select(col("doc_id"), col("source"),
        explode(graft.functions.Hashing.shingleHashSet(TF.tokens(col("text")), 5)).as("s"))
      // eval shingles come from the SCRUBBED text too — both sides of the
      // contamination compare must live in the same text space
      val evalSet = scrubbed.filter(col("source") === evalSource)
        .select(explode(graft.functions.Hashing.shingleHashSet(
          TF.tokens(col("text")), 5)).as("s")).distinct()
      val contaminated = sh.filter(col("source") =!= evalSource)
        .join(broadcast(evalSet), Seq("s"), "left_semi")
        .select(col("doc_id")).distinct()
      // eval-source docs themselves also leave the training corpus
      stage("decontaminate",
        nearDup.filter(col("source") =!= evalSource)
          .join(contaminated, Seq("doc_id"), "left_anti"))
    }

    // 5. content-stable split assignment: the bucket hash is the CONTENT
    // fingerprint (same md5 as stage 2), NOT doc_id — re-ingesting the
    // same document under a new id must land in the same split, or the
    // re-ingest leaks val/test text into train (the exact leakage this
    // pattern exists to prevent). Id-keyed bucketing (t09's form) is
    // only id-stable.
    val hb = pmod(conv(substring(TF.fingerprint(col("text")), 1, 8), 16, 10)
      .cast("long"), lit(100L))
    val corpus = clean.withColumn("split",
      when(hb < 90, "train").when(hb < 95, "val").otherwise("test"))
    Result(corpus, stats.toSeq)
  }

  /**
   * Materialize the prepared corpus with the consumption-ready layout:
   * one directory per split (training jobs read exactly the split they
   * need — directory pruning, zero I/O on the others) and doc_id-sorted
   * rows within each partition (parquet min/max row-group stats make
   * id-range lookups skip row groups; downstream packing/t20 reads in
   * offset order for free).
   */
  def write(result: Result, path: String): Unit =
    result.corpus
      .repartition(col("split"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").partitionBy("split").parquet(path)
}

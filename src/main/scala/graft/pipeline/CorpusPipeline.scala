package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, TextFunctions => TF}
import graft.operators.{Dedup, LmFluency}

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
 *   1-4. the verdict chain     ([[verdictStages]]: quality, optional LM
 *                               gate, exact dedup, near-dup dedup,
 *                               eval exclusion + decontamination)
 *   5. split assignment        (t09: content-stable md5 train/val/test)
 *
 * The verdict chain is defined ONCE, in [[verdictStages]]; the
 * d13_dedup_verdict and d26_verdict_lm harness queries are projections
 * of the same chain (every document labeled with the stage that dropped
 * it), so the oracle-checked verdicts and the released corpus cannot
 * drift apart.
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
   * The staged dedup verdict over a documents frame (doc_id, text,
   * source, n_chars; doc_id unique), in order:
   *
   *   quality_filter   [[TF.qualityKeep]] (t06's rule)
   *   lm_fluency       optional, t39's bigram-LM keep rule — the CCNet
   *                    ordering: heuristic quality, then LM perplexity
   *                    filter, then dedup. The LM trains on the FULL
   *                    evalSource slice of `docs` (the curated reference
   *                    is given, not quality-gated); only non-evalSource
   *                    survivors face the gate (≥ 3/4 of transitions
   *                    LM-covered), evalSource rows bypass it (they leave
   *                    at decontamination). One [[LmFluency.score]] body
   *                    shared with the oracle-verified t39.
   *   exact_dedup      d02: min doc_id per content fingerprint
   *   neardup_dedup    `components` of the pool's near-dup pair graph →
   *                    d07's keep rule: longest text per component
   *   decontaminate    t12: evalSource docs leave, and so does every doc
   *                    sharing a 5-gram shingle with the evalSource slice
   *                    of `docs`
   *
   * Each stage maps the previous stage's survivor pool to its own, by
   * doc_id keep-sets joined back as left_semi/left_anti, and passes it
   * with its keep-list (the survivors' doc_ids, a subset of the pool
   * the stage read) through `materialize` (called once per stage, in
   * order); the returned frame is the pool the next stage reads. The
   * caller chooses the materialization: [[run]] counts the pool for its
   * stats, the harness verdicts checkpoint the keep-list, which skips
   * the pool's join back.
   *
   * The quality gate is a bare per-row filter. Under the unique-doc_id
   * contract it keeps the same rows as a doc_id-keyed aggregate, and it
   * adds no exchange or join to [[run]]'s lazily re-executed plan. Over
   * NorthStar's docs() the predicate pushes below the pinned
   * repartition onto the scan's single split; the harness verdicts
   * checkpoint its result, so that runs once per query.
   *
   * @param components pool (doc_id, text, …) ⇒ (doc_id, component) for
   *                   the pool's near-dup pairs; docs without a pair may
   *                   be absent (they are their own component)
   * @param materialize (stage name, survivor pool, keep-list) ⇒ the pool
   *                   the next stage reads
   * @return each stage's name and survivor pool, in order
   */
  private[graft] def verdictStages(docs: DataFrame, evalSource: String,
                                   lmGate: Boolean,
                                   components: DataFrame => DataFrame,
                                   materialize: (String, DataFrame, DataFrame) => DataFrame
                                  ): Seq[(String, DataFrame)] = {
    val pools = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    def current = pools.lastOption.fold(docs)(_._2)
    // a stage whose survivors are a filter of its pool
    def filterStage(name: String)(survivors: DataFrame => DataFrame): Unit = {
      val out = survivors(current)
      pools += name -> materialize(name, out, out.select(col("doc_id")))
    }
    // a stage that picks a doc_id keep-list from its pool
    def keepStage(name: String)(keep: DataFrame => DataFrame): Unit = {
      val in = current
      val ids = keep(in)
      pools += name -> materialize(name, in.join(ids, Seq("doc_id"), "left_semi"), ids)
    }
    val isEval = col("source") === evalSource
    val shingles5 = explode(Hashing.shingleHashSet(TF.tokens(col("text")), 5))

    filterStage("quality_filter")(_.filter(TF.qualityKeep(col("text"))))
    if (lmGate) keepStage("lm_fluency")(pool =>
      LmFluency.score(docs.filter(isEval).select(col("text")),
          pool.filter(!isEval).select(col("doc_id"), col("text")))
        .filter(col("keep")).select(col("doc_id"))
        .unionByName(pool.filter(isEval).select(col("doc_id"))))
    keepStage("exact_dedup")(_
      .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")))
    keepStage("neardup_dedup") { pool =>
      val w = Window.partitionBy(col("component"))
      pool.select(col("doc_id"), col("n_chars"))
        .join(components(pool), Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
        .withColumn("rn", row_number().over(
          w.orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("rn") === 1).select(col("doc_id"))
    }
    filterStage("decontaminate") { pool =>
      val evalSet = docs.filter(isEval).select(shingles5.as("s")).distinct()
      val contaminated = pool.filter(!isEval)
        .select(col("doc_id"), shingles5.as("s"))
        .join(broadcast(evalSet), Seq("s"), "left_semi")
        .select(col("doc_id")).distinct()
      pool.filter(!isEval).join(contaminated, Seq("doc_id"), "left_anti")
    }
    pools.toSeq
  }

  /** [[verdictStages]] for a caller that materializes the pool only. */
  private[graft] def verdictStages(docs: DataFrame, evalSource: String,
                                   lmGate: Boolean,
                                   components: DataFrame => DataFrame,
                                   materialize: (String, DataFrame) => DataFrame
                                  ): Seq[(String, DataFrame)] =
    verdictStages(docs, evalSource, lmGate, components,
      (name: String, pool: DataFrame, _: DataFrame) => materialize(name, pool))

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
   * @param lmFluency   when true, the chain runs its LM-fluency gate
   *                    (trained on the scrubbed evalSource slice).
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

    // 1-4. the verdict chain over the scrubbed text; the near-dup stage
    // builds its pairs fresh over its pool (exact or LSH). The pair plan
    // is lazy and read once, by connectedComponents (which caches its own
    // input); the shingle-hash table it reads on several branches is
    // this stage's one cache, released once the components exist (they
    // are eager: collected or checkpointed).
    def nearDupComponents(pool: DataFrame): DataFrame = {
      val hs = Dedup.shingleHashTable(pool, "doc_id", "text", 3).persist()
      try {
        val pairs =
          if (lshPairs) Dedup.minhashLshPairs(hs, jaccard, k = 128, bands = 32,
            estFloor = jaccard - 0.2)
          else Dedup.jaccardPairsExact(hs, jaccard)
        Dedup.connectedComponents(pairs.select(col("doc_a"), col("doc_b")))
      } finally hs.unpersist()
    }
    val clean = verdictStages(scrubbed, evalSource, lmFluency,
      nearDupComponents, stage _).last._2

    // 5. content-stable split assignment: the bucket hash is the CONTENT
    // fingerprint (same md5 as exact dedup), NOT doc_id — re-ingesting the
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

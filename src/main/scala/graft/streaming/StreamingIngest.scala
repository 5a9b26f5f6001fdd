package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.model.Schemas
import graft.operators.{AnnJoin, LmFluency, Rtbf, WeatherOps}
import graft.sinks.Sinks

/**
 * Structured Streaming formulation of the ingest (SURVEY.md §7.1 M4).
 *
 * The reference's fact table is semantically a stream of daily
 * observations appended by a scheduled batch
 * (reference codes/weather_etl_pipeline.py:274 `@daily`); this module is
 * the same dataflow as an always-on stream: a landing directory of JSON
 * payloads → the identical flatten/convert transform → an idempotent
 * append sink. Every `start*` drains through [[drain]]:
 * `Trigger.AvailableNow` gives the reference's cadence (run, drain,
 * stop) on streaming semantics, exactly-once per input across restarts
 * via the checkpoint.
 *
 * The batch-partition contract, shared by every store written here
 * except the top-k table: the store is parquet partitioned by
 * `_batch_id`, and each micro-batch OWNS its partition.
 *  - [[replaceBatchPartition]] overwrites exactly that partition
 *    (dynamic partition overwrite), so a replay — the engine re-runs the
 *    latest batch when its write landed but its checkpoint commit did
 *    not — replaces the batch instead of duplicating it. This is the fix
 *    for the reference's retry double-insert (SURVEY.md §2.1/§7.3#5).
 *  - A batch that writes no rows drops its partition, so an empty
 *    replay leaves no stale partition behind; a store left with no
 *    partition is removed. An empty partitioned root is a schemaless
 *    directory that fails every inferring read (UNABLE_TO_INFER_SCHEMA),
 *    while an absent store is the well-defined "nothing admitted yet"
 *    state that [[readStore]] reports as None.
 *  - A batch function that reads its own store reads it WITHOUT its own
 *    partition, so a replay computes against the same state as the
 *    first attempt. Replays are always of the latest batch: checkpoint
 *    commits are sequential.
 *
 * Scale posture: the file source lists incrementally, the transforms
 * are the same codegen'd projections as batch, and the sinks write
 * partition-per-batch — no global state, no driver materialization.
 */
object StreamingIngest {

  /** Drain `df` to the end of its available input through `batchFn`,
    * once per micro-batch. */
  private def drain(df: DataFrame, checkpointDir: String)(
      batchFn: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(batchFn)
      .start()

  /** The store at `path` read under its declared `layout` (no footer
    * inference job), or None while nothing has been written there.
    * Probing existence explicitly, not catching a failed read, keeps
    * real read failures (a corrupt footer, a transient FS error) failing
    * the batch so that the checkpoint retries it. */
  private def readStore(spark: SparkSession, path: String,
                        layout: StructType): Option[DataFrame] = {
    val p = new Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(spark.read.schema(layout).parquet(path))
    else None
  }

  /**
   * Replace batch `batchId`'s partition of the store at `storePath` with
   * `rows`, and return the number of rows written. The count comes from
   * an `Observation` on the write itself, so it costs no job. When no
   * row was written, the batch's partition is dropped, and so is a root
   * left without partitions (the object scaladoc's contract).
   *
   * The Observation adds no error line to a failed write. Spark's
   * session-wide observation listener reads `observedMetrics` of every
   * failed query; that rethrows, as one more ERROR
   * (`ExecutionListenerBus: Listener … threw an exception`), only when
   * the query failed before it had a physical plan. A batch write that
   * fails while it runs has its plan, so the batch fails with its own
   * exception and its own log lines (StreamingSpec), and nothing waits
   * on the failed write's Observation.
   */
  private[graft] def replaceBatchPartition(rows: DataFrame, storePath: String,
                                           batchId: Long): Long = {
    val written = Observation()
    Sinks.overwritePartitions(
      rows.observe(written, count(lit(1)).as("rows"))
        .withColumn("_batch_id", lit(batchId)),
      "_batch_id", storePath)
    val n = written.get("rows").asInstanceOf[Long]
    if (n == 0) {
      val root = new Path(storePath)
      val fs = root.getFileSystem(rows.sparkSession.sparkContext.hadoopConfiguration)
      fs.delete(new Path(root, s"_batch_id=$batchId"), true)
      if (fs.exists(root) &&
          !fs.listStatus(root).exists(_.getPath.getName.startsWith("_batch_id=")))
        fs.delete(root, true)
    }
    n
  }

  /** Streaming op 2-7: landing dir of JSON-line payloads → weather rows. */
  def weatherStream(spark: SparkSession, landingDir: String): DataFrame = {
    val raw = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .text(landingDir)
    WeatherOps.flattenOwm(
      raw.select(from_json(col("value"), Schemas.owmPayload).as("payload")))
  }

  /** Idempotent streaming append (ops 8/10 as a stream sink): each
    * micro-batch lands as its own `_batch_id` partition. */
  def startIdempotentAppend(df: DataFrame, storePath: String,
                            checkpointDir: String): StreamingQuery =
    drain(df, checkpointDir)(replaceBatchPartition(_, storePath, _))

  /**
   * Streaming corpus CDC — the streaming twin of batch q60's snapshot
   * diff: arrivals carry (doc_id, text) (text NULL = tombstone), each
   * micro-batch is compared against the corpus state accumulated so far
   * and emits change EVENTS (added / changed / removed; unchanged
   * arrivals emit nothing) into an append-only, batch-partitioned
   * store. The store IS the state: the current corpus is the latest
   * event per doc_id with removals filtered ([[snapshotState]]), so
   * there is no second state store to keep consistent. All joins move
   * (doc_id, 32-hex digest) rows — q60's 100 TB contract; text never
   * reaches a shuffle. Long-lived stores compact like the agg-maintenance
   * view: fold old partitions into one snapshot partition with the same
   * latest-event-wins reduction.
   */
  def startSnapshotDiff(docs: DataFrame, storePath: String,
                        checkpointDir: String): StreamingQuery =
    drain(docs, checkpointDir)(snapshotDiffBatch(_, storePath, _))

  /** The per-batch diff-and-append behind [[startSnapshotDiff]], exposed
    * for direct unit testing (incl. true replays). */
  private[graft] def snapshotDiffBatch(batch: DataFrame, storePath: String,
                                       batchId: Long): Unit = {
    // one version per doc per batch: content beats tombstone, ties
    // break to the max digest — deterministic under any partitioning
    val arrivals = batch
      .select(col("doc_id"),
        when(col("text").isNotNull, md5(col("text"))).as("digest"))
      .groupBy(col("doc_id")).agg(max(col("digest")).as("digest"))
    val state = readStore(batch.sparkSession, storePath,
        Schemas.batchPartitioned(Schemas.snapshotEventStore))
      .fold(arrivals.limit(0))(s => stateAsOf(s.filter(col("_batch_id") =!= batchId)))
      .select(col("doc_id"), col("digest").as("old_digest"))
    val events = arrivals.join(state, Seq("doc_id"), "left")
      .select(col("doc_id"), col("digest"),
        when(col("digest").isNull && col("old_digest").isNotNull,
          "removed")
          .when(col("digest").isNotNull && col("old_digest").isNull,
            "added")
          .when(col("digest") =!= col("old_digest"), "changed")
          .as("status"))
      .filter(col("status").isNotNull)
    replaceBatchPartition(events, storePath, batchId)
  }

  /**
   * Streaming scrubbed-ingest gate — CorpusPipeline's stage 0 (PII
   * scrub) + stage 2's exact dedup enforced at the ingest boundary:
   * each arriving document (doc_id, text; one row per doc_id per batch,
   * the same upstream contract as [[startSnapshotDiff]]) is scrubbed
   * with TF.scrubPii BEFORE anything is fingerprinted or stored, then
   * fingerprinted ON THE SCRUBBED TEXT and admitted only if that
   * fingerprint is new — vs the store AND vs earlier arrivals in the
   * same batch (min doc_id survives, d02's rule). Fingerprinting the
   * scrubbed form is load-bearing, not cosmetic: volatile per-crawl PII
   * (session addresses, visitor IPs) differs between captures of the
   * same page, so a raw-text gate re-admits every such re-crawl —
   * d25_scrub_dedup measures a 50% leak on the harness corpus. No raw
   * text ever touches disk. Store rows are (doc_id, text[scrubbed], fp).
   *
   * Shuffle discipline at corpus scale: the store-side probe joins the
   * store's fp column against a BROADCAST of the batch's fingerprints
   * (map-side semi-join — the CORPUS never shuffles toward the batch;
   * d17's bloom gate is the drop-in prefilter when even the probe scan
   * needs thinning), the in-batch survivor choice moves (fp, doc_id)
   * pairs only, and the scrubbed text is projected into the final
   * write through a broadcast semi-join back onto the batch. The only
   * text that moves is BATCH text, once, through the per-batch
   * one-version-per-doc reduction.
   *
   * Contract: micro-batches must be trigger-bounded — every broadcast
   * here (batch fp set, hit set, admitted set) is batch-sized by
   * construction, so a backfill over a pre-populated landing directory
   * must cap the first batch (`maxFilesPerTrigger`/`maxBytesPerTrigger`
   * on the source); an unbounded "all history as batch 0" run would
   * push the batch-sized sets past broadcast limits. Bounded triggers
   * are how a production gate runs anyway — the cap is the knob that
   * keeps replay cost and store partition sizes flat.
   */
  def startScrubbedIngest(docs: DataFrame, storePath: String,
                          checkpointDir: String): StreamingQuery =
    drain(docs, checkpointDir)(scrubbedIngestBatch(_, storePath, _))

  /**
   * The linkage-preserving twin of [[startScrubbedIngest]]: identifiers
   * are PSEUDONYMIZED (keyed tags, TF.pseudonymizePii — t36's contract)
   * instead of blind-scrubbed, so the stored corpus stays RTBF-capable:
   * a deletion request's tag is driver-derivable from (label, value) and
   * [[Rtbf.applyLedgerToStore]] / [[startDeletionLedgerIngest]] can
   * locate and erase every linked document later. Everything else is
   * [[scrubbedIngestBatch]] verbatim — dedup runs on the PSEUDONYMIZED
   * text's fingerprint (equal identifiers collapse to equal tags, so
   * the volatile-PII re-crawl leak the scrubbed gate closes stays
   * closed), the store layout is the same, and no raw identifier ever
   * touches disk. A blind-scrubbed store has nothing to forget; THIS is
   * the ingest shape a GDPR-capable corpus runs.
   */
  def startPseudonymizedIngest(docs: DataFrame, key: String,
                               storePath: String,
                               checkpointDir: String): StreamingQuery =
    drain(docs, checkpointDir)(scrubbedIngestBatch(_, storePath, _,
      scrub = TF.pseudonymizePii(_, key)))

  /**
   * Streaming right-to-be-forgotten (r16 verdict #4) — deletion
   * requests as a STREAM: each micro-batch of (label, value) requests
   * folds into one [[Rtbf.applyLedgerToStore]] pass over the
   * pseudonymized store (partition-targeted rewrite + optional derived
   * recompute, e.g. `fp`). No state beyond the store itself is kept:
   * ledger passes are IDEMPOTENT and COMPOSE (forgetting an
   * already-forgotten tag is a no-op), so a replayed request batch is
   * harmless and two batches in either order converge to the same
   * store — StreamingSpec pins stream == one batch apply of the union
   * ledger, plus the replay law.
   *
   * Concurrency contract (carried from applyLedgerToStore): one ledger
   * pass per store at a time (the staging-freshness guard enforces it);
   * a live INGEST writing new `_batch_id` partitions during a pass is
   * fine — those partitions are simply not probed, and the next
   * request batch (or pass) picks them up. A production deployment
   * therefore points this query's requests stream and the ingest query
   * at the same store without coordination beyond the guard.
   */
  def startDeletionLedgerIngest(requests: DataFrame, storePath: String,
                                pseudoCol: String, key: String, mac: Boolean,
                                checkpointDir: String,
                                derived: Seq[(String, Column)] = Seq.empty,
                                replacement: String = "<FORGOTTEN>",
                                freshMillis: Long = Rtbf.stagingFreshMillis)
      : StreamingQuery =
    drain(requests, checkpointDir) { (batch, _) =>
      Rtbf.applyLedgerToStore(batch.sparkSession, storePath, pseudoCol, batch,
        key, mac, replacement, derived, freshMillis)
      ()
    }

  /**
   * Streaming FULL-cascade deletion — the store-FAMILY twin of
   * [[startDeletionLedgerIngest]] (which maintains the corpus store
   * alone): each request micro-batch folds into one
   * [[Rtbf.cascadeStores]] pass over the release's whole family — every
   * doc-keyed derived artifact ([[Rtbf.purgeFromStore]]) and sidecar
   * ([[Rtbf.purgeSidecar]]) drops the linked docs' rows FIRST, then the
   * corpus store is rewritten (with `derived` recomputes, e.g. `fp`) —
   * so after any batch commits, zero derived rows trace to a forgotten
   * document and a crash mid-batch leaves the linkage discoverable for
   * the replay (cascadeStores' step order). The composition contract is
   * inherited: passes are idempotent and compose, so replayed request
   * batches are no-ops and any batch split of a ledger converges to the
   * one-batch union apply — StreamingSpec pins both laws against a twin
   * family. Same single-maintenance-writer guard per store; a live
   * ingest writing new `_batch_id` partitions during a pass is picked
   * up by the next pass, exactly as on the corpus-only form.
   */
  def startCascadeLedgerIngest(requests: DataFrame, storePath: String,
                               pseudoCol: String, key: String, mac: Boolean,
                               checkpointDir: String,
                               derived: Seq[(String, Column)] = Seq.empty,
                               artifactStores: Seq[(String, String)] = Seq.empty,
                               sidecars: Seq[(String, String)] = Seq.empty,
                               docIdCol: String = "doc_id",
                               replacement: String = "<FORGOTTEN>",
                               freshMillis: Long = Rtbf.stagingFreshMillis)
      : StreamingQuery =
    drain(requests, checkpointDir) { (batch, _) =>
      Rtbf.cascadeStores(batch.sparkSession, storePath, pseudoCol, batch, key,
        mac, replacement, derived, docIdCol, artifactStores, sidecars,
        freshMillis)
      ()
    }

  /**
   * The streaming twin of the batch CCNet prefix (CorpusPipeline stages
   * 0–2 with `lmFluency = true`, the d26 stage order): per micro-batch,
   * scrub → quality keep rule → LM-fluency keep gate → exact dedup
   * (in-batch and vs the store), with [[scrubbedIngestBatch]]'s store
   * underneath. The caller trains the bigram LM ONCE on the static
   * curated reference (given, not part of the stream), persists its
   * tables for the query's lifetime and unpersists them after: they are
   * reference-vocabulary-bounded (SCALE.md wave11 — 914→961 bigrams
   * across a 100× corpus), so every batch's scoring is a map-side
   * broadcast probe over the batch's transitions; no corpus-sized
   * state, no growing join. One [[LmFluency]] body shared with the
   * oracle-verified t39/d26 queries and the batch pipeline —
   * StreamingSpec pins batch/stream row-identity.
   */
  def startFluencyGatedIngest(docs: DataFrame, model: LmFluency.Model,
                              storePath: String,
                              checkpointDir: String): StreamingQuery =
    drain(docs, checkpointDir)(scrubbedIngestBatch(_, storePath, _,
      fluencyGate(model)))

  /** The quality + LM-fluency keep stages over a scrubbed, versioned
    * batch — TF.qualityKeep (the t06/CorpusPipeline rule) then
    * LmFluency's cross-multiplied integer keep gate; the semi-join's
    * right side is batch-bounded. */
  private[graft] def fluencyGate(model: LmFluency.Model)(
      scrubbed: DataFrame): DataFrame = {
    val q = scrubbed.filter(TF.qualityKeep(col("text")))
    val keep = LmFluency.scoreWith(model, q.select(col("doc_id"), col("text")))
      .filter(col("keep")).select(col("doc_id"))
    q.join(broadcast(keep), Seq("doc_id"), "left_semi")
  }

  /**
   * The FULL d26/CCNet stage order as one streaming ingest: scrub →
   * quality → LM-fluency gate → exact dedup (in-batch and vs the
   * store) → DECONTAMINATION — arrivals sharing any 5-gram shingle
   * with the held-out eval suite are dropped (t12's contract, applied
   * in scrubbed space like CorpusPipeline stage 4). Decontamination is
   * pinned AFTER dedup's survivor selection to mirror the batch
   * pipeline's stage order; for EXACT dedup the two orders are
   * observationally identical (identical scrubbed text ⇒ identical
   * shingles ⇒ identical contamination), but the pin keeps the gate
   * aligned with the near-dup-capable batch stages, where a cluster's
   * survivor and its victims CAN differ in contamination and the order
   * is semantics. The caller builds the eval shingle set ONCE
   * ([[evalShingleSet]]) and owns the lifetimes of it and of the model,
   * as in [[startFluencyGatedIngest]]; eval suites are curated and
   * small, so the set is broadcast and per-batch cost is the batch's own
   * shingles probing it map-side — no growing state, same boundedness as
   * the LM tables. StreamingSpec pins row-identity with the batch
   * composition of the same bodies.
   */
  def startCorpusGatedIngest(docs: DataFrame, model: LmFluency.Model,
                             evalSet: DataFrame, storePath: String,
                             checkpointDir: String): StreamingQuery =
    drain(docs, checkpointDir)(scrubbedIngestBatch(_, storePath, _,
      fluencyGate(model), decontaminationGate(evalSet)))

  /** The held-out suite's 5-gram shingle set in SCRUBBED space — both
    * sides of the contamination compare must live in the same text
    * space (CorpusPipeline's note). NOT persisted here — the caller owns
    * the lifetime. */
  def evalShingleSet(evalDocs: DataFrame): DataFrame =
    evalDocs
      .select(TF.scrubPii(col("text")).as("text"))
      .select(explode(graft.functions.Hashing.shingleHashSet(
        TF.tokens(col("text")), 5)).as("s"))
      .distinct()

  /** Drop the admitted rows sharing any 5-gram shingle with the
    * broadcast eval set — the per-batch decontamination stage. `hit`
    * is batch-bounded (ids of contaminated arrivals). */
  private[graft] def decontaminationGate(evalSet: DataFrame)(
      admitted: DataFrame): DataFrame = {
    val hit = admitted
      .select(col("doc_id"), explode(graft.functions.Hashing.shingleHashSet(
        TF.tokens(col("text")), 5)).as("s"))
      .join(broadcast(evalSet), Seq("s"), "left_semi")
      .select(col("doc_id")).distinct()
    admitted.join(broadcast(hit), Seq("doc_id"), "left_anti")
  }

  /** The per-batch scrub-and-gate behind [[startScrubbedIngest]] and
    * its gated twins, exposed for direct unit testing (incl. true
    * replays). `gate` filters the scrubbed, versioned batch BEFORE the
    * exact-dedup stages (the CCNet order: heuristic quality and LM
    * fluency run on scrubbed text, dedup sees only survivors); the
    * default identity gate is the plain scrubbed ingest. */
  private[graft] def scrubbedIngestBatch(batch: DataFrame, storePath: String,
                                         batchId: Long,
                                         gate: DataFrame => DataFrame = identity,
                                         postGate: DataFrame => DataFrame = identity,
                                         scrub: Column => Column = TF.scrubPii)
      : Unit = {
    // one version per doc per batch (same defense as snapshotDiffBatch:
    // a doc re-emitted across two files of one AvailableNow trigger must
    // not land twice) — max (fp, text) struct is deterministic under any
    // partitioning, and fp is the text's md5 so the pair is consistent.
    // Persisted: the survivor choice and the final semi-join both read it
    val scrubbed = gate(batch
      .withColumn("text", scrub(col("text")))
      .withColumn("fp", TF.fingerprint(col("text")))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("fp"), col("text"))).as("m"))
      .select(col("doc_id"), col("m.text").as("text"), col("m.fp").as("fp")))
      .persist()
    try {
      // in-batch survivor: min doc_id per scrubbed fingerprint
      val keep = scrubbed.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      val admitted = readStore(batch.sparkSession, storePath,
          Schemas.batchPartitioned(Schemas.scrubbedStore)).fold(keep) { store =>
        // store-side probe: corpus fps scan map-side against the
        // broadcast batch fp set; `hits` is batch-bounded
        val hits = store.filter(col("_batch_id") =!= batchId)
          .select(col("fp"))
          .join(broadcast(keep.select(col("fp"))), Seq("fp"), "left_semi")
          .distinct()
        keep.join(broadcast(hits), Seq("fp"), "left_anti")
      }
      // `postGate` filters the DEDUP SURVIVORS (d26's stage order —
      // decontamination runs after survivor selection, with which it
      // does not commute); identity for the plain/fluency gates
      replaceBatchPartition(postGate(scrubbed
          .join(broadcast(admitted.select(col("doc_id"))), Seq("doc_id"), "left_semi")),
        storePath, batchId)
    } finally scrubbed.unpersist()
  }

  /** The admitted corpus: (doc_id, text[scrubbed], fp, _batch_id). */
  def scrubbedCorpus(spark: SparkSession, storePath: String): DataFrame =
    spark.read.schema(Schemas.batchPartitioned(Schemas.scrubbedStore)).parquet(storePath)

  /** Latest event per doc_id (highest _batch_id wins; docs are unique
    * within a batch by construction), removals filtered — the current
    * corpus digest table. */
  private def stateAsOf(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("_batch_id").desc)
    events
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("status") =!= "removed")
      .select(col("doc_id"), col("digest"))
  }

  /** The corpus as of the last drained batch: (doc_id, digest). */
  def snapshotState(spark: SparkSession, storePath: String): DataFrame =
    stateAsOf(snapshotEvents(spark, storePath))

  /** All change events in batch order: (doc_id, digest, status, _batch_id). */
  def snapshotEvents(spark: SparkSession, storePath: String): DataFrame =
    spark.read.schema(Schemas.batchPartitioned(Schemas.snapshotEventStore)).parquet(storePath)

  /**
   * Streaming incremental materialized-view maintenance — the streaming
   * twin of batch j04: each micro-batch reduces to per-key PARTIAL
   * aggregates (count + exact DECIMAL sum — the ⊕-mergeable form) in its
   * own partition, so a replayed batch replaces itself instead of
   * double-adding — exactly-once without read-modify-write on the store.
   * The maintained view is [[aggView]]'s ⊕-merge of the partials at
   * read; periodic compaction (fold old partitions with the same ⊕)
   * bounds partition count without changing the result — for THIS
   * sum-based store it must run as write-new-generation-then-switch (a
   * duplicate sum partial double-counts; contrast
   * [[compactDistinctStore]], whose idempotent register ⊕ earns the
   * cheaper in-place protocol). The write path carries only
   * (key, n, tot) rows — batch-sized, never corpus-sized.
   */
  def startAggMaintenance(events: DataFrame, storePath: String,
                          checkpointDir: String,
                          keyCol: String = "user_id",
                          valCol: String = "value"): StreamingQuery =
    drain(events, checkpointDir) { (batch, batchId) =>
      replaceBatchPartition(batch.groupBy(col(keyCol))
          .agg(count(lit(1)).as("n"),
            sum(col(valCol).cast(org.apache.spark.sql.types.DecimalType(18, 2)))
              .as("tot")),
        storePath, batchId)
      ()
    }

  /**
   * Continuously-maintained distinct-count — the streaming form of
   * a04/a09's HLL tier: each micro-batch folds to its (key, register)
   * maxima partials in its own partition. Registers have a property
   * plain sums lack: the merge ⊕ is element-wise MAX — idempotent AND
   * commutative — so even a batch written TWICE under different batch
   * ids (a failure mode the partition ownership exists to prevent for
   * sums) cannot move the merged view. The view ([[distinctView]]) is a
   * register merge + harmonic estimate at read; store growth is 64 rows
   * × keys per batch regardless of event volume, and compaction (fold
   * partitions with the same max) never changes the result.
   */
  def startDistinctMaintenance(events: DataFrame, storePath: String,
                               checkpointDir: String,
                               keyCol: String = "event_type",
                               idCol: String = "user_id"): StreamingQuery =
    drain(events, checkpointDir) { (batch, batchId) =>
      replaceBatchPartition(graft.Queries.hllRegisters(
          batch.withColumnRenamed(idCol, "user_id"), Seq(keyCol)),
        storePath, batchId)
      ()
    }

  /**
   * Compact the register store behind [[startDistinctMaintenance]]:
   * fold every partial partition into ONE fresh GENERATION partition
   * (negative `_batch_id` — a namespace no streaming batch uses; each
   * compaction claims the FIRST FREE negative id, so a long-lived
   * store's generation ids converge back to `_batch_id=-1` instead of
   * decreasing forever — a store already holding exactly that single
   * partition is a no-op. Transiently deeper ids appear only while
   * recovering from a crash window: if a crash left `-1` and `-2`
   * coexisting, the recovery fold mints `-3` before the next
   * compaction converges back to `-1`) and delete the folded
   * partitions —
   * including any PRIOR generation — only AFTER the new write
   * commits. Partition count on a long-lived store drops to 1 without
   * moving the view.
   *
   * Crash windows, exhaustively: (a) before the write — store
   * untouched; (b) during the write — only an uncommitted staging dir
   * exists (dynamic partition overwrite stages under
   * `.spark-staging-<jobId>`; some committers use `_temporary` —
   * readers ignore both as non-partition paths), the folded
   * partitions are intact; the orphaned staging debris of a crashed
   * write is reaped by the NEXT compaction's snapshot step, age-gated
   * (`graft.streaming.stagingReapAgeHours`, default 24 h) so a
   * concurrent writer's live staging dir is never touched; (c) between
   * the write commit and the deletes — the new generation AND the
   * folded partitions coexist, i.e. every register is duplicated, and
   * the idempotent max-merge ⊕ absorbs duplicates (the property the
   * spec asserts directly); re-running the compaction converges. No
   * window ever holds the ONLY copy of a register in a partition
   * being replaced — the earlier in-place `-1` overwrite did, which
   * is exactly why this is a generation protocol now. SUM-based
   * partial stores ([[startAggMaintenance]]) would need the same
   * protocol for correctness AND cannot tolerate window (c)'s
   * transient duplicates — this helper stays register-only by design.
   *
   * Concurrency: the partition set is SNAPSHOTTED first, only those
   * partitions are folded, and only those are deleted — a batch a
   * concurrent drain commits after the snapshot is neither folded nor
   * deleted, so it survives for the next compaction. (The maintenance
   * trigger is AvailableNow — drain-then-compact is the natural
   * cadence — but the snapshot discipline makes an overlap lose
   * nothing either way.)
   *
   * The store walk is Hadoop [[org.apache.hadoop.fs.FileSystem]], not
   * `java.io.File` — the store path may live on HDFS/S3A in the
   * deployment this maintains (a `file:` path resolves to the local FS
   * through the same API).
   */
  def compactDistinctStore(spark: SparkSession, storePath: String,
                           keyCol: String = "event_type"): Unit = {
    val folded = compactDistinctFold(spark, storePath, keyCol)
    if (folded.nonEmpty) {
      val fs = folded.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
      folded.foreach(p => fs.delete(p, true))
    }
  }

  /** The fold-and-write half of [[compactDistinctStore]]: snapshot the
    * partition set, write its register fold to the next free generation
    * partition, and return the snapshotted (now redundant) partition
    * paths WITHOUT deleting them — split out so the crash window
    * between write-commit and delete is directly unit-testable. */
  private[graft] def compactDistinctFold(spark: SparkSession, storePath: String,
                                         keyCol: String = "event_type")
      : Seq[Path] = {
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root) && fs.getFileStatus(root).isDirectory,
      s"not a readable store directory: $storePath")
    val entries = fs.listStatus(root)
    // reap crash window (b)'s debris: a write that died mid-flight left
    // an orphaned `.spark-staging-<jobId>` (or `_temporary`) dir that no
    // other process ever cleans. Age-gate the delete so a CONCURRENT
    // writer's live staging dir survives a compaction overlap — and gate
    // on the NEWEST mtime in the staging TREE, not the root dir's: a
    // live job writes into nested task subdirectories, so the root's
    // mtime stalls at job setup and a long write would look stale by
    // the root alone. A genuinely live writer keeps advancing some
    // leaf's mtime; crashed debris advances nothing. The age gate is
    // configurable (`graft.streaming.stagingReapAgeHours`) and defaults
    // to 24 h — debris reaping is not urgent, and a generous gate
    // protects two legitimate slow-writer shapes the tree-mtime walk
    // alone cannot: a writer that spends hours computing before its
    // FIRST task file lands (nothing in the tree advances yet), and an
    // FS whose open files only update mtime on close (HDFS). (Residual
    // caveat: the compactor compares its own clock against FS mtimes —
    // gross clock skew erodes the margin; the gate leaves room for sane
    // NTP drift, not for an unsynchronized fleet.)
    def newestMtime(p: Path): Long = {
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) st.getModificationTime
      else (st.getModificationTime +:
        fs.listStatus(p).toSeq.map(c => newestMtime(c.getPath))).max
    }
    // graceful conf parse, the partition-id discipline below: a
    // malformed value must not permanently block compaction, and a
    // negative/NaN value would put the cutoff AT-OR-PAST now — deleting
    // a concurrent writer's LIVE staging dir, the exact hazard the gate
    // exists to prevent. Zero is rejected for the same reason — it puts
    // the cutoff exactly AT now, which reaps a writer whose newest mtime
    // landed this instant. Anything unparseable or <= 0 falls back to
    // 24 h; there is deliberately no reap-everything escape hatch.
    val reapAgeHours = scala.util.Try(
        spark.conf.get("graft.streaming.stagingReapAgeHours", "24").toDouble)
      .toOption.filter(h => h > 0 && !h.isNaN).getOrElse(24.0)
    val staleCutoff =
      System.currentTimeMillis() - (reapAgeHours * 60 * 60 * 1000).toLong
    entries.filter { st =>
      val n = st.getPath.getName
      st.isDirectory && (n.startsWith(".spark-staging-") || n == "_temporary") &&
        scala.util.Try(newestMtime(st.getPath)).toOption.exists(_ < staleCutoff)
    }.foreach(st => fs.delete(st.getPath, true))
    // graceful id parse: a non-numeric partition dir (a null batch id's
    // __HIVE_DEFAULT_PARTITION__, a stray hand-made dir) is excluded
    // from the fold — still read by the view, never deleted here —
    // instead of a NumberFormatException permanently blocking compaction
    val snapshot = entries
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_batch_id="))
      .flatMap { st =>
        scala.util.Try(st.getPath.getName.stripPrefix("_batch_id=").toLong)
          .toOption.map(id => (st.getPath, id))
      }
    if (snapshot.isEmpty) return Nil
    val ids = snapshot.map(_._2).toSet
    // already canonical: exactly the one quiescent `-1` generation —
    // re-folding would just ping-pong −1 ↔ −2 forever
    if (ids == Set(-1L)) return Nil
    // FIRST FREE negative id (not min−1): never a partition the fold is
    // reading — pure add, no in-place overwrite — and bounded: folding
    // {gen, batches…} claims the other of {−1, −2}, so a quiescent
    // store converges to `_batch_id=-1` instead of minting gen−1 forever
    val gen = Iterator.from(1).map(-_.toLong).find(!ids.contains(_)).get
    Sinks.overwritePartitions(
      spark.read.parquet(snapshot.map(_._1.toString).toSeq: _*)
        .groupBy(col(keyCol), col("j")).agg(max(col("m_j")).as("m_j"))
        .withColumn("_batch_id", lit(gen)),
      "_batch_id", storePath)
    snapshot.map(_._1).toSeq
  }

  /** The maintained view behind [[startDistinctMaintenance]]: merged
    * register maxima → a04's harmonic estimate per key. The read infers
    * its schema: the key column is a parameter, so no layout is declared. */
  def distinctView(spark: SparkSession, storePath: String,
                   keyCol: String = "event_type"): DataFrame =
    graft.Queries.hllEstimate(
        spark.read.parquet(storePath)
          .groupBy(col(keyCol), col("j")).agg(max(col("m_j")).as("m_j")),
        Seq(keyCol))
      .select(col(keyCol), graft.Queries.hllHarmonic.as("est_distinct"))

  /**
   * Continuously-maintained top-k — the streaming form of q10's batch
   * top-k: each micro-batch's local top-k is merged with the stored
   * top-k, DEDUPLICATED, and re-reduced. The dedup is what makes a true
   * replay idempotent: if a batch was already folded into the store (the
   * store write succeeded but the checkpoint commit did not, so the
   * engine re-runs the batch), the union contains that batch's rows
   * twice — without the dedup those copies occupy multiple top-k slots
   * and evict legitimate rows. With it, a replayed row collapses onto
   * its stored copy and the reduction is max-like again, so the
   * read-modify-write with the checkpoint is exactly-once-equivalent
   * without partition bookkeeping; state is k rows regardless of stream
   * volume. Ties break on the tieCol for a deterministic table.
   */
  def startTopKMaintenance(rows: DataFrame, storePath: String,
                           checkpointDir: String, k: Int,
                           orderCol: String, tieCol: String): StreamingQuery =
    drain(rows, checkpointDir)((batch, _) =>
      topKMergeBatch(batch, storePath, k, orderCol, tieCol))

  /** The per-batch read-merge-reduce-overwrite behind
    * [[startTopKMaintenance]], exposed so a replay (same batch applied
    * again after a successful store write) can be unit-tested directly.
    * The table is written with the batch's own schema, so it is read
    * back under that schema. */
  private[graft] def topKMergeBatch(batch: DataFrame, storePath: String,
                                    k: Int, orderCol: String,
                                    tieCol: String): Unit = {
    val spark = batch.sparkSession
    val batchTop = batch
      .orderBy(col(orderCol).desc, col(tieCol)).limit(k)
    val merged = readStore(spark, storePath, batch.schema)
      .fold(batchTop)(batchTop.unionByName(_))
    // dropDuplicates BEFORE the reduce: a replayed batch's rows are exact
    // copies of rows already in the store and must not take extra slots
    // materialize BEFORE overwriting — the store is an input here
    val rows = merged.dropDuplicates()
      .orderBy(col(orderCol).desc, col(tieCol)).limit(k)
      .collect()
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(rows: _*)),
        batch.schema)
      .write.mode("overwrite").parquet(storePath)
  }

  /**
   * Streaming embedding-dedup ingest gate — the streaming twin of the
   * s07 incremental ANN probe, and the missing half of a production
   * vector-corpus ingest: each micro-batch of arriving vectors is
   * probed against the PERSISTED index (batch signatures broadcast over
   * ONE scan of the stored sketch column — no corpus self-join, same
   * shape as s07), near-duplicates (max cosine ≥ `simThreshold` against
   * the index OR against an earlier row of the same batch) are DROPPED,
   * and survivors land in the batch's own partition, so the store
   * doubles as the sketch index for the next batch. Store rows carry
   * (vec_id, embedding, sig); per-batch cost is O(|index|·|batch|)
   * popcounts + O(|batch|·cands) exact dots.
   *
   * `nCells = Some(c)` switches the index probe from the brute
   * batch × index scan to coarse-cell bucketed candidates (the s10
   * machinery, operators/AnnJoin): only index rows co-resident with a
   * batch row in one of its `probes` nearest cells are hamming-ranked.
   * Near-dup pairs (cos ≥ threshold) are nearly parallel, so they
   * co-bucket with probability → 1 at any cell count. What this buys
   * per batch: the PAIR-RANKING work (hamming + candidate shuffle)
   * drops from |batch|·|index| to the co-resident candidate count, and
   * index-side cell assignments are PERSISTED in an append-only
   * sidecar (`<storePath>_cells_n<c>`, maintained at survivor-write
   * time), so each batch reads narrow (vec_id, cell) rows and computes
   * cells only for rows the sidecar does not cover yet (self-healing:
   * coverage gaps are recomputed and appended on the next batch).
   * Brute (None) remains the default for small stores.
   */
  def startVectorDedupIngest(vectors: DataFrame, storePath: String,
                             checkpointDir: String,
                             simThreshold: Double = 0.95,
                             dim: Int = 64, nBits: Int = 512,
                             cands: Int = 32,
                             nCells: Option[Int] = None,
                             probes: Int = 2): StreamingQuery =
    drain(vectors, checkpointDir)(vectorDedupBatch(_, storePath, _,
      simThreshold, dim, nBits, cands, nCells, probes))

  /** The per-batch probe-filter-append behind [[startVectorDedupIngest]],
    * exposed for direct unit testing (incl. true replays). */
  private[graft] def vectorDedupBatch(batch: DataFrame, storePath: String,
                                      batchId: Long, simThreshold: Double,
                                      dim: Int, nBits: Int,
                                      cands: Int,
                                      nCells: Option[Int] = None,
                                      probes: Int = 2): Unit = {
    val spark = batch.sparkSession
    val b = batch
      .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
      .withColumn("sig", VF.bitSignature(col("v"), dim, nBits))
      .withColumn("nrm", sqrt(VF.normSq(col("v"))))
      .persist()
    // unpersist in finally: a transient probe/write failure throws out of
    // foreachBatch and the query retries — without the finally each failed
    // attempt would leak one persisted batch into the long-lived session
    try {
    val store = readStore(spark, storePath, Schemas.batchPartitioned(Schemas.vectorStore))
      .map(_.filter(col("_batch_id") =!= batchId))
    def cellsOf(df: DataFrame, nc: Int) = AnnJoin.cellAssignments(
        df, "vec_id", "embedding", dim, nc, probes)
      .select(col("id").as("vec_id"), col("cell"))
    // phantom sidecar rows (cells of vec_ids a replay or an all-dropped
    // batch removed from the store) are harmless: every read joins them
    // back against the store, which has no such row; duplicate rows
    // collapse in the candidate distinct
    val sidecar = nCells.flatMap(nc =>
      readStore(spark, s"${storePath}_cells_n$nc", Schemas.vectorCells))
    // index rows the sidecar does not cover yet (a brute-era store's
    // first bucketed batch, or rows landed outside the gate)
    def uncovered(idx: DataFrame) =
      sidecar.fold(idx)(sc => idx.join(sc.select(col("vec_id")), Seq("vec_id"), "left_anti"))
    // max cosine of each batch vector against the index: sketch top-C
    // candidates from a genuinely NARROW probe — the hamming pass reads
    // only (vec_id, sig) from the store; full vectors are joined back
    // for the ≤ |batch|·cands candidate pairs only, with each side's
    // norm computed once
    val dupVsIndex = store.fold(b.select(col("vec_id")).limit(0)) { store =>
      val hams = nCells match {
        case Some(nc) =>
          // bucketed probe: batch rows meet only co-resident index rows
          // (cell equi-join — shuffles the candidate set, never the
          // whole index against every batch row)
          val bCells = cellsOf(b.select(col("vec_id"), col("v").as("embedding")), nc)
          val computed = cellsOf(uncovered(store).select(col("vec_id"), col("embedding")), nc)
          val iCells = sidecar.fold(computed)(_.unionByName(computed))
            .select(col("vec_id").as("idx_id"), col("cell"))
          bCells.join(iCells, Seq("cell"))
            .select(col("vec_id"), col("idx_id")).distinct()
            .join(broadcast(b.select(col("vec_id"), col("sig"))), Seq("vec_id"))
            .join(store.select(col("vec_id").as("idx_id"),
              col("sig").as("idx_sig")), Seq("idx_id"))
            .select(col("vec_id"), col("idx_id"),
              VF.hammingSig(col("sig"), col("idx_sig")).as("ham"))
        case None =>
          store.select(col("vec_id").as("idx_id"), col("sig").as("idx_sig"))
            .crossJoin(broadcast(b.select(col("vec_id"), col("sig"))))
            .select(col("vec_id"), col("idx_id"),
              VF.hammingSig(col("sig"), col("idx_sig")).as("ham"))
      }
      val cand = graft.operators.Relational.topKPerKey(hams, Seq("vec_id"),
        Seq(col("ham").asc, col("idx_id").asc), cands)
      val idxVec = store.select(col("vec_id").as("idx_id"),
        VF.toDouble(col("embedding")).as("idx_v"))
        .withColumn("idx_nrm", sqrt(VF.normSq(col("idx_v"))))
      cand
        .join(idxVec, Seq("idx_id"))
        .join(b.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
        .select(col("vec_id"),
          (VF.dot(col("v"), col("idx_v")) / (col("nrm") * col("idx_nrm")))
            .as("sim"))
        .groupBy(col("vec_id")).agg(max(col("sim")).as("max_sim"))
        .filter(col("max_sim") >= simThreshold)
        .select(col("vec_id"))
    }
    // within-batch near-dups, anchored on the batch rows that SURVIVED
    // the index probe: a row dropped as an index near-dup must not also
    // drag down later batch rows that are NOT near anything stored (the
    // unanchored pair rule silently lost such rows). Remaining known
    // conservatism: a pure in-batch similarity chain (A kept, B~A
    // dropped, C~B but not ~A) still drops C — the gate may over-drop
    // on chains, never under-drop. Batches are small; the pair scan
    // broadcasts the anchor side.
    val anchors = b.join(dupVsIndex, Seq("vec_id"), "left_anti")
    val dupInBatch = b.as("x").join(broadcast(anchors.as("y")),
        col("x.vec_id") > col("y.vec_id") &&
        VF.dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))
          >= simThreshold)
      .select(col("x.vec_id")).distinct()
    // persisted: the store write and the sidecar step both read it
    val survivors = b
      .join(dupVsIndex, Seq("vec_id"), "left_anti")
      .join(dupInBatch, Seq("vec_id"), "left_anti")
      .select(col("vec_id"),
        transform(col("v"), x => x.cast("float")).as("embedding"), col("sig"))
      .persist()
    try {
    // sidecar maintenance for the bucketed probe: append the cells of
    // (a) this batch's survivors and (b) any store rows the sidecar
    // does not cover yet (converges a brute-era store after one
    // bucketed batch). Append-only and self-healing: a crash between
    // the store write and this append only means those rows' cells are
    // recomputed on later batches. A batch that admitted nothing has no
    // cells to add, and a non-empty append never leaves an empty dir.
    if (replaceBatchPartition(survivors, storePath, batchId) > 0)
      nCells.foreach { nc =>
        val cells = cellsOf(survivors.select(col("vec_id"), col("embedding")), nc)
        store.fold(cells)(idx => cells.unionByName(
            cellsOf(uncovered(idx).select(col("vec_id"), col("embedding")), nc)))
          .write.mode("append").parquet(s"${storePath}_cells_n$nc")
      }
    } finally survivors.unpersist()
    } finally b.unpersist()
  }

  /** The maintained aggregate view over [[startAggMaintenance]]'s partial
    * store: ⊕-merge (sum of counts, sum of exact DECIMAL partials) —
    * bit-identical to a full recompute over every event ever ingested.
    * The read infers its schema: the key column is a parameter. */
  def aggView(spark: SparkSession, storePath: String,
              keyCol: String = "user_id"): DataFrame =
    spark.read.parquet(storePath)
      .groupBy(col(keyCol))
      .agg(sum(col("n")).as("n"),
        sum(col("tot")).cast("double").as("sum_value"))

  /**
   * Watermarked windowed aggregation over the event stream (the streaming
   * analogue of q19): per event-type counts/sums in event-time windows;
   * rows later than the watermark are dropped, state for closed windows
   * is reclaimed — bounded state at any scale.
   */
  def windowedEventAgg(events: DataFrame, windowLen: String = "1 hour",
                       watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /**
   * Streaming exact deduplication — the streaming twin of the d01/d02
   * batch tier: drop re-arrivals of the same content fingerprint inside
   * the watermark horizon. `dropDuplicatesWithinWatermark` keeps
   * per-key state only until the watermark passes (bounded state, unlike
   * `dropDuplicates` whose state grows forever on an unbounded stream) —
   * the only formulation that survives an unbounded 100 TB/day ingest.
   * The fingerprint is the same whitespace/case-normalized md5 as batch
   * d01, so a document deduped here hashes identically downstream.
   */
  def dedupedDocStream(docs: DataFrame, tsCol: String = "ts",
                       textCol: String = "text",
                       watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fingerprint",
        graft.functions.TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /**
   * Stream-stream interval join: each event picks up the same user's
   * orders placed in the trailing hour before the event. BOTH sides are
   * watermarked and the join condition carries an explicit event-time
   * range — the two things that let Spark bound the join state (each
   * side's buffered rows are dropped once the other side's watermark
   * passes the range), which is what makes a stream-stream join viable
   * on an unbounded feed; an unconstrained stream join would buffer
   * both streams forever.
   */
  def ordersWithinHourJoin(events: DataFrame, orders: DataFrame,
                           watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .join(orders.withWatermark("ots", watermark),
        expr("""user_id = o_user_id
                AND ots BETWEEN ts - INTERVAL 1 HOUR AND ts"""))

  /**
   * Stream-stream LEFT OUTER attribution join: every impression
   * `(its, user_id, imp_id)` is guaranteed to appear — one row per
   * same-user click `(cts, c_user_id, click_id)` landing inside the
   * 30-minute attribution window after it (standard left-outer
   * fan-out: two qualifying clicks → two rows), or exactly one row
   * with NULL click columns once the watermark proves no click can
   * still arrive. Consumers counting unconverted impressions filter
   * on `click_id IS NULL`; CTR denominators take `count(distinct
   * imp_id)`, not raw row counts. The
   * OUTER row is the semantics the inner join cannot give: "this
   * impression did NOT convert" is itself the signal (CTR denominators,
   * negative training examples), and it can only be emitted when the
   * click-side watermark passes `its + window` — i.e. the null is a
   * statement about completed event-time, not about what happened to be
   * in the batch. Same state-boundedness as the inner form: both sides
   * watermarked + an explicit event-time range, so buffered rows are
   * dropped (and unmatched ones emitted) as the watermarks advance;
   * unmatched impressions surface on the trigger AFTER the watermark
   * passes, not in their arrival batch.
   */
  def impressionAttributionJoin(impressions: DataFrame, clicks: DataFrame,
                                watermark: String = "1 hour"): DataFrame =
    impressions.withWatermark("its", watermark)
      .join(clicks.withWatermark("cts", watermark),
        expr("""user_id = c_user_id
                AND cts BETWEEN its AND its + INTERVAL 30 MINUTES"""),
        "leftOuter")

  /** A keyed event for the custom-state path. */
  case class Event(user_id: Long, event_type: String, value: Double)
  /** Running per-user state maintained across micro-batches. */
  case class UserStats(user_id: Long, n: Long, sum_value: Double)

  /**
   * The per-group state transition behind [[runningUserStats]], exposed
   * for direct unit testing with `TestGroupState`: on timeout the key's
   * state is REMOVED (bounded state — the eviction actually happens) and
   * its final snapshot emitted; on data the running totals update and,
   * when a timeout mode is armed, the idle clock is re-armed per
   * invocation (GroupState timeouts do not persist across triggers).
   */
  private[graft] def statsTransition(useTimeout: Boolean, idleTimeoutMs: Long)(
      uid: Long, batch: Iterator[Event], state: GroupState[UserStats]): UserStats =
    if (state.hasTimedOut) {
      val last = state.getOption.getOrElse(UserStats(uid, 0L, 0.0))
      state.remove()
      last
    } else {
      val prev = state.getOption.getOrElse(UserStats(uid, 0L, 0.0))
      var n = prev.n
      var s = prev.sum_value
      batch.foreach { e => n += 1; s += e.value }
      val next = UserStats(uid, n, s)
      state.update(next)
      if (useTimeout) state.setTimeoutDuration(idleTimeoutMs)
      next
    }

  /**
   * Custom keyed state via mapGroupsWithState (the escape hatch when
   * built-in windowed aggs can't express the state machine): running
   * per-user totals that survive across micro-batches, with processing-
   * time timeout so idle keys are evicted (bounded state) —
   * `idleTimeoutMs` is armed on every update when `timeout` is a real
   * timeout mode, and a fired timeout removes the key's state.
   */
  /** An event for the streaming sessionizer. */
  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  /** Open-session state: [start, end] epoch-millis bounds + event count. */
  case class SessionState(start: Long, end: Long, n: Long)
  /** A closed session — emitted when the gap breaks or the key times out. */
  case class ClosedSession(user_id: Long, start_ts: java.sql.Timestamp,
                           end_ts: java.sql.Timestamp, n_events: Long)

  /**
   * The sessionizer's per-group transition, exposed for direct unit
   * testing with `TestGroupState` (same pattern as [[statsTransition]]):
   * in-batch events extend the open session while gaps stay ≤ `gapMs`,
   * a larger gap closes the session and opens a new one, and a fired
   * idle timeout closes (and REMOVES — bounded state) the open session.
   */
  private[graft] def sessionTransition(gapMs: Long, useTimeout: Boolean = true)(
      uid: Long, batch: Iterator[SessionEvent],
      state: GroupState[SessionState]): Iterator[ClosedSession] = {
    def close(s: SessionState) = ClosedSession(uid,
      new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.end), s.n)
    if (state.hasTimedOut) {
      val out = state.getOption.map(close).iterator
      state.remove()
      out
    } else {
      val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
      var cur = state.getOption
      batch.map(_.ts.getTime).toArray.sorted.foreach { t =>
        cur = cur match {
          case Some(s) if t - s.end <= gapMs =>
            Some(SessionState(s.start, math.max(s.end, t), s.n + 1))
          case other =>
            other.foreach(closed += close(_))
            Some(SessionState(t, t, 1L))
        }
      }
      cur.foreach(state.update)
      if (useTimeout) state.setTimeoutDuration(gapMs)
      closed.iterator
    }
  }

  /**
   * Gap-based streaming sessionization — the streaming twin of the q26
   * batch query (>`gapMs` of silence per user closes the session), via
   * `flatMapGroupsWithState` because a key emits ZERO OR MORE rows per
   * trigger (mapGroupsWithState's one-row contract can't express "this
   * batch closed two sessions"). Append mode: only CLOSED sessions are
   * emitted, each exactly once; the open session lives in the state
   * store and, under ProcessingTimeTimeout (the production default), is
   * evicted by the idle timeout.
   *
   * Test caveat: under ProcessingTimeTimeout with the default
   * zero-interval trigger the engine re-runs empty micro-batches
   * continuously to check timers, so `processAllAvailable` never
   * quiesces — drive the timeout path through [[sessionTransition]] with
   * `TestGroupState` (or a real trigger interval), and pass NoTimeout
   * for data-driven end-to-end tests.
   */
  def sessionStream(events: Dataset[SessionEvent], gapMs: Long = 1800000L,
                    timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    require(timeout != GroupStateTimeout.EventTimeTimeout,
      "sessionStream evicts idle keys on a processing-time clock; " +
      "use ProcessingTimeTimeout (or NoTimeout), not EventTimeTimeout")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, timeout)(
        sessionTransition(gapMs, timeout == GroupStateTimeout.ProcessingTimeTimeout))
  }

  /** A typed event for the streaming funnel. */
  case class FunnelEvent(user_id: Long, event_type: String,
                         ts: java.sql.Timestamp)
  /** Funnel progress: the highest stage reached + its event time. */
  case class FunnelState(stage: Int, last_ts: Long)
  /** Emitted whenever a user ADVANCES a stage in a micro-batch. */
  case class StageAdvance(user_id: Long, stage: Int,
                          ts: java.sql.Timestamp)

  /**
   * The streaming funnel's per-group transition (q45's streaming twin —
   * same pattern as [[sessionTransition]]): events advance the user
   * through the ordered stage list when their type matches the NEXT
   * stage and their event time is strictly after the previous
   * advancement (the same strictly-later contract as batch q45). Emits
   * one row per stage ADVANCED (append-mode friendly: each advancement
   * exactly once); a fired idle timeout evicts the key — completed or
   * abandoned funnels do not occupy the state store forever.
   */
  private[graft] def funnelTransition(stages: Seq[String], useTimeout: Boolean,
                                      idleTimeoutMs: Long)(
      uid: Long, batch: Iterator[FunnelEvent],
      state: GroupState[FunnelState]): Iterator[StageAdvance] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[StageAdvance]
      var cur = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
      batch.toArray.sortBy(e => (e.ts.getTime, e.event_type)).foreach { e =>
        if (cur.stage < stages.length &&
            e.event_type == stages(cur.stage) &&
            e.ts.getTime > cur.last_ts) {
          cur = FunnelState(cur.stage + 1, e.ts.getTime)
          out += StageAdvance(uid, cur.stage, e.ts)
        }
      }
      state.update(cur)
      if (useTimeout) state.setTimeoutDuration(idleTimeoutMs)
      out.iterator
    }

  /**
   * Streaming funnel analysis: per-user progression through an ordered
   * stage list (default view → click → purchase), emitted incrementally
   * as stages are reached — each advancement exactly once, in Append
   * mode, with idle keys evicted under ProcessingTimeTimeout. The batch
   * q45 query recomputes the funnel from all history; this maintains it
   * continuously with O(1) state per active user.
   */
  def funnelStream(events: Dataset[FunnelEvent],
                   stages: Seq[String] = Seq("view", "click", "purchase"),
                   timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout,
                   idleTimeoutMs: Long = 3600000L): Dataset[StageAdvance] = {
    import events.sparkSession.implicits._
    require(timeout != GroupStateTimeout.EventTimeTimeout,
      "funnelStream evicts idle keys on a processing-time clock; " +
      "use ProcessingTimeTimeout (or NoTimeout), not EventTimeTimeout")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageAdvance](
        OutputMode.Append, timeout)(
        funnelTransition(stages,
          timeout == GroupStateTimeout.ProcessingTimeTimeout, idleTimeoutMs))
  }

  /** A typed event for the streaming pattern detector. */
  case class PatternEvent(user_id: Long, event_id: Long, event_type: String,
                          ts: java.sql.Timestamp)
  /** Pattern state: the most recent view/error event times (full
    * precision — the between-ness comparison needs it). */
  case class PatternState(view_ts: Option[java.sql.Timestamp],
                          error_ts: Option[java.sql.Timestamp])
  /** A clean conversion: view → (no error between) → purchase within
    * the window. Identical row shape to batch q65's output. */
  case class Conversion(user_id: Long, event_id: Long,
                        view_ts: java.sql.Timestamp,
                        purchase_ts: java.sql.Timestamp,
                        secs_to_convert: Long)

  /**
   * The pattern stream's per-group transition (q65's streaming twin):
   * carry only the LAST view and error timestamps per user — the whole
   * MATCH_RECOGNIZE-ish "V (¬E)* P within t" pattern needs exactly two
   * timestamps of state, the reason it streams with O(1) per-key state
   * while the batch form re-sorts history. Seconds are floor-truncated
   * exactly as batch q65's unix_timestamp, so the two surfaces emit
   * identical rows on identical (in-order) input.
   */
  private[graft] def patternTransition(windowSecs: Long, useTimeout: Boolean,
                                       idleTimeoutMs: Long)(
      uid: Long, batch: Iterator[PatternEvent],
      state: GroupState[PatternState]): Iterator[Conversion] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[Conversion]
      var cur = state.getOption.getOrElse(PatternState(None, None))
      def sec(t: java.sql.Timestamp) = Math.floorDiv(t.getTime, 1000L)
      batch.toArray.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        e.event_type match {
          case "purchase" =>
            cur.view_ts.foreach { v =>
              if (sec(e.ts) - sec(v) <= windowSecs &&
                  cur.error_ts.forall(_.compareTo(v) < 0))
                out += Conversion(uid, e.event_id, v, e.ts, sec(e.ts) - sec(v))
            }
          case "view" => cur = cur.copy(view_ts = Some(e.ts))
          case "error" => cur = cur.copy(error_ts = Some(e.ts))
          case _ =>
        }
        ()
      }
      // a key with nothing to remember (no view/error ever seen) must
      // not occupy the state store: clicks-only users would otherwise
      // accumulate an empty state row each, O(all-users) state for a
      // detector that only needs users with pattern-relevant history
      if (cur != PatternState(None, None) || state.exists) {
        state.update(cur)
        if (useTimeout) state.setTimeoutDuration(idleTimeoutMs)
      }
      out.iterator
    }

  /**
   * Streaming sequential-pattern detection — batch q65 maintained
   * continuously: each clean conversion is emitted exactly once, in
   * Append mode, the moment its purchase arrives; idle users evict
   * under ProcessingTimeTimeout. Contract: per-user event order across
   * micro-batches (the same assumption every per-key state machine in
   * this file makes; late cross-batch stragglers belong to the
   * watermarked ingest path).
   */
  def conversionStream(events: Dataset[PatternEvent],
                       windowSecs: Long = 1800L,
                       timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout,
                       idleTimeoutMs: Long = 3600000L): Dataset[Conversion] = {
    import events.sparkSession.implicits._
    require(timeout != GroupStateTimeout.EventTimeTimeout,
      "conversionStream evicts idle keys on a processing-time clock; " +
      "use ProcessingTimeTimeout (or NoTimeout), not EventTimeTimeout")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[PatternState, Conversion](
        OutputMode.Append, timeout)(
        patternTransition(windowSecs,
          timeout == GroupStateTimeout.ProcessingTimeTimeout, idleTimeoutMs))
  }

  def runningUserStats(events: Dataset[Event],
                       timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout,
                       idleTimeoutMs: Long = 3600000L)
      : Dataset[UserStats] = {
    import events.sparkSession.implicits._
    // the idle clock is a processing-time duration; under EventTimeTimeout
    // Spark only permits setTimeoutTimestamp (a watermark-relative policy
    // this helper does not model), so reject it up front rather than
    // throwing per-key inside the first micro-batch
    require(timeout != GroupStateTimeout.EventTimeTimeout,
      "runningUserStats evicts idle keys on a processing-time clock; " +
      "use ProcessingTimeTimeout (or NoTimeout), not EventTimeTimeout")
    val useTimeout = timeout == GroupStateTimeout.ProcessingTimeTimeout
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserStats, UserStats](timeout)(
        statsTransition(useTimeout, idleTimeoutMs))
  }

  case class RateEvent(event_type: String, ts: java.sql.Timestamp)
  /** EWMA control-chart state for one key: the currently-open minute and
    * its running count, plus the chart statistics over CLOSED minutes. */
  case class RateState(minute: Long, count: Long, mean: Double,
                       varEwma: Double, nMinutes: Long)
  case class RateAnomaly(event_type: String, minute_start: java.sql.Timestamp,
                         count: Long, mean_before: Double, z: Double)

  /**
   * Per-key minute-count state machine behind [[rateAnomalyStream]] —
   * an EWMA control chart (Roberts 1959, Technometrics) on per-minute
   * event counts. A minute CLOSES when a later-minute event arrives for
   * the key; closing minute m with count c scores z = (c − mean)/σ
   * against the statistics BEFORE the update (the control-chart
   * contract: a spike must not dilute the baseline it is judged
   * against), emits an anomaly iff the chart has warmed up (≥
   * `warmupMinutes` closed minutes), σ > 0, and |z| ≥ `zThreshold`,
   * then folds c in: mean' = mean + α(c − mean),
   * var' = (1−α)·var + α·(c − mean)². Empty minutes between events are
   * closed as count 0 — a rate monitor must see DROPS, not only spikes
   * — but a gap beyond `maxGapMinutes` resets the chart instead of
   * iterating an unbounded backfill (a key idle for a year must not
   * replay 525k synthetic minutes inside one micro-batch). Discard
   * paths SCORE before discarding: both the idle timeout and the
   * > maxGap reset first close the open minute and one silence-onset
   * zero-minute, so a permanently dead source reports its flatline
   * instead of vanishing with its last partial minute unscored.
   * Events for already-closed minutes are dropped (late stragglers
   * belong to the watermarked ingest path); in-batch disorder is
   * absorbed by one sort. State is 5 scalars per key at ANY rate.
   */
  private[graft] def rateTransition(alpha: Double, zThreshold: Double,
                                    warmupMinutes: Int, maxGapMinutes: Int,
                                    useTimeout: Boolean, idleTimeoutMs: Long)(
      key: String, batch: Iterator[RateEvent],
      state: GroupState[RateState]): Iterator[RateAnomaly] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[RateAnomaly]
    def closeMinute(st: RateState): RateState = {
      val sd = math.sqrt(st.varEwma)
      val dev = st.count - st.mean
      if (st.nMinutes >= warmupMinutes && sd > 0 &&
          math.abs(dev / sd) >= zThreshold)
        out += RateAnomaly(key,
          new java.sql.Timestamp(st.minute * 60000L),
          st.count, st.mean, dev / sd)
      RateState(st.minute, 0L, st.mean + alpha * dev,
        (1 - alpha) * st.varEwma + alpha * dev * dev, st.nMinutes + 1)
    }
    // the open minute + ONE synthetic zero-minute, scored before any
    // discard: a source that goes permanently silent must REPORT its
    // flatline (the zero scores against the warmed chart), not vanish
    // with its last partial minute unscored
    def closeForDiscard(st: RateState): Unit = {
      closeMinute(closeMinute(st).copy(count = 0L, minute = st.minute + 1))
      ()
    }
    if (state.hasTimedOut) {
      state.getOption.foreach(closeForDiscard)
      state.remove()
      out.iterator
    } else {
      var cur = state.getOption.orNull
      batch.toArray.sortBy(_.ts.getTime).foreach { e =>
        val m = Math.floorDiv(e.ts.getTime, 60000L)
        if (cur == null) cur = RateState(m, 1L, 0.0, 0.0, 0L)
        else if (m == cur.minute) cur = cur.copy(count = cur.count + 1)
        else if (m > cur.minute) {
          if (m - cur.minute > maxGapMinutes) {
            // chart reset: the baseline is stale after a long silence —
            // but the pre-gap open minute and the silence onset are
            // scored first, then the chart restarts cold
            closeForDiscard(cur)
            cur = RateState(m, 1L, 0.0, 0.0, 0L)
          } else {
            cur = closeMinute(cur)
            while (cur.minute < m - 1)
              cur = closeMinute(cur.copy(minute = cur.minute + 1, count = 0L))
            cur = cur.copy(minute = m, count = 1L)
          }
        } // m < cur.minute: late event for a closed minute — dropped
      }
      if (cur != null) {
        state.update(cur)
        if (useTimeout) state.setTimeoutDuration(idleTimeoutMs)
      }
      out.iterator
    }
  }

  /**
   * Streaming rate-anomaly detection — the pipeline-health tripwire a
   * 100 TB ingest runs beside every source: per event_type, per-minute
   * arrival counts scored against an EWMA control chart, spikes AND
   * silent drops surfacing as Append-mode rows the moment the next
   * event closes the minute. Exactly-once per (key, minute) by
   * construction: a minute closes once, and closing is the only
   * emission point. Keys here are event types (bounded state); a
   * production deployment keys by (source, event_type) — the state
   * stays 5 scalars per key either way. Contract: per-key event-time
   * order across micro-batches (this file's standing state-machine
   * assumption); late in-batch disorder is sorted away.
   */
  def rateAnomalyStream(events: Dataset[RateEvent], alpha: Double = 0.3,
                        zThreshold: Double = 3.0, warmupMinutes: Int = 5,
                        maxGapMinutes: Int = 1440,
                        timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout,
                        idleTimeoutMs: Long = 3600000L): Dataset[RateAnomaly] = {
    import events.sparkSession.implicits._
    require(alpha > 0 && alpha <= 1, s"alpha in (0, 1], got $alpha")
    require(timeout != GroupStateTimeout.EventTimeTimeout,
      "rateAnomalyStream evicts idle keys on a processing-time clock; " +
      "use ProcessingTimeTimeout (or NoTimeout), not EventTimeTimeout")
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[RateState, RateAnomaly](
        OutputMode.Append, timeout)(
        rateTransition(alpha, zThreshold, warmupMinutes, maxGapMinutes,
          timeout == GroupStateTimeout.ProcessingTimeTimeout, idleTimeoutMs))
  }
}

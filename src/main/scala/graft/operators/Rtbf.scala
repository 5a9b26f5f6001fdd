package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/**
 * Batch right-to-be-forgotten over a pseudonymized corpus — the
 * multi-request production form of the single-tag t37/t40 paths
 * (`/root/reference` has no RTBF surface; this extends the
 * pseudonymization tier the way a real GDPR pipeline must: deletion
 * requests arrive in batches of thousands, and the corpus is scanned
 * ONCE per release, not once per request).
 *
 * Shape at 100 TB: the deletion ledger is tiny relative to the corpus
 * (bounded collect below, same discipline as the other documented
 * driver-side bounds — Dedup's union-find threshold, the k-row top-k
 * store); its tags ship to executors inside one [[graft.functions.ForgetTags]]
 * expression (a broadcast-sized hash set riding a map-only scan), so
 * the rewrite is a single codegen'd pass over the corpus with no join,
 * no shuffle, and cost independent of request count. Tags are
 * driver-computed via the same [[TF.pseudoTag]]/[[TF.pseudoTagMac]]
 * twins the single-request paths use (bit-exact with the engine-side
 * pseudonymizers and the DuckDB oracle).
 */
object Rtbf {

  /** Hard cap on ledger size for the driver-side tag computation: 1M
    * requests × ~40-byte tags ≈ 40 MB on the driver and in the task
    * binary — the practical broadcast bound. A ledger past this size
    * should be split into passes (each pass is idempotent — forgetting
    * an already-forgotten tag is a no-op — so passes compose). */
  val maxLedgerRows = 1000000

  /** Collect the (label, value) deletion ledger and derive each
    * request's linkage tag for the chosen family. Fails loudly past
    * [[maxLedgerRows]] rather than silently truncating (`cap` exists
    * so the failure path is TESTABLE at a small ledger — RtbfSpec sets
    * it to 2 and asserts the require fires; production callers never
    * pass it). */
  def requestTags(ledger: DataFrame, key: String, mac: Boolean,
                  cap: Int = maxLedgerRows): Seq[String] = {
    val rows = ledger.select(col("label").cast("string"), col("value").cast("string"))
      .limit(cap + 1).collect()
    require(rows.length <= cap,
      s"deletion ledger exceeds $cap rows — split it into passes")
    rows.toSeq.map { r =>
      val (label, value) = (r.getString(0), r.getString(1))
      if (mac) TF.pseudoTagMac(label, key, value)
      else TF.pseudoTag(label, key, value)
    }.distinct
  }

  /** The audit view (t41/t42's contract, the batch twin of t37/t40's):
    * only the documents linked to at least one ledger request, with
    * EVERY ledger tag erased. Linkage is decided by the BOOLEAN
    * [[TF.linksAnyTag]] scan, not by comparing the rewrite to its
    * input: Catalyst pushes the filter below the projection (good —
    * the predicate reaches the scan side and non-linked rows never hit
    * the rewrite), and with a `rewritten != original` predicate that
    * pushdown would re-evaluate the rewrite (plus its whole upstream
    * chain — the CodegenFallback HOFs get no subexpression
    * elimination) twice in the filter and a third time in the
    * surviving projection. One cheap boolean scan per row + one
    * rewrite per LINKED row instead; RtbfSpec pins
    * `linksAnyTag == (forgetTags != input)`. */
  def forgetAll(corpus: DataFrame, pseudoCol: String, ledger: DataFrame,
                key: String, mac: Boolean,
                replacement: String = "<FORGOTTEN>"): DataFrame = {
    val tags = requestTags(ledger, key, mac)
    corpus
      .filter(TF.linksAnyTag(col(pseudoCol), tags))
      .select(corpus.columns.toSeq.map(c =>
        if (c == pseudoCol)
          TF.forgetTags(col(pseudoCol), tags, replacement).as(pseudoCol)
        else col(c)): _*)
  }

  /** The release form: rewrite the WHOLE corpus (linked rows lose their
    * ledger tags, everything else passes through byte-identical) — what
    * a release pipeline applies before shipping. Map-only. */
  def applyLedger(corpus: DataFrame, pseudoCol: String, ledger: DataFrame,
                  key: String, mac: Boolean,
                  replacement: String = "<FORGOTTEN>"): DataFrame = {
    val tags = requestTags(ledger, key, mac)
    corpus.withColumn(pseudoCol, TF.forgetTags(col(pseudoCol), tags, replacement))
  }

  /** Recompute each derived column (e.g. the store's `fp`, the text's
    * fingerprint) over the REWRITTEN row, in order: shipping the old
    * derivative of forgotten text would both contradict the text and
    * trace it. */
  private def withDerived(df: DataFrame,
                          derived: Seq[(String, Column)]): DataFrame =
    derived.foldLeft(df) { case (d, (name, expr)) => d.withColumn(name, expr) }

  /**
   * The t43 audit body — one DataFrame proving the FULL deletion story
   * over a release: the corpus with every ledger tag erased and every
   * derived column recomputed from the rewritten text, joined with the
   * per-doc count of rows REMAINING in a doc-keyed derived artifact
   * (embeddings / ANN rows / fingerprints) after the purge drops the
   * linked docs' rows. Contract (oracle-checked): `linked` marks
   * exactly the docs any ledger request touches, `n_vec` is 0 for every
   * linked doc (zero derived rows trace to a forgotten document), and
   * `fp`-style derived columns always equal their recompute over the
   * shipped text (stale-derivative inconsistency is impossible).
   *
   * Scale shape: tags broadcast inside the kernels (map-only over the
   * corpus); the artifact purge is one left-anti join keyed on the doc
   * id (AQE broadcasts the forgotten-id side when the linkage is small,
   * shuffles on the key otherwise — never wider than the artifact
   * itself); the remaining-count agg is keyed on the same id.
   */
  def cascadeAudit(corpus: DataFrame, pseudoCol: String, ledger: DataFrame,
                   key: String, mac: Boolean,
                   derived: Seq[(String, Column)],
                   artifact: DataFrame, artifactIdCol: String,
                   docIdCol: String = "doc_id",
                   replacement: String = "<FORGOTTEN>"): DataFrame = {
    val tags = requestTags(ledger, key, mac)
    val released = withDerived(
      corpus
        .withColumn("linked", TF.linksAnyTag(col(pseudoCol), tags))
        .withColumn(pseudoCol,
          TF.forgetTags(col(pseudoCol), tags, replacement)),
      derived)
    val forgotten = released.filter(col("linked"))
      .select(col(docIdCol).as(artifactIdCol))
    val remaining = artifact.join(forgotten, Seq(artifactIdCol), "left_anti")
      .groupBy(col(artifactIdCol)).agg(count(lit(1)).as("n_vec"))
    released.join(remaining,
        released(docIdCol) === remaining(artifactIdCol), "left")
      .select(released.columns.map(released(_)) :+
        coalesce(col("n_vec"), lit(0L)).as("n_vec"): _*)
  }

  /**
   * Deletion-ledger maintenance over a `_batch_id`-partitioned store
   * (the StreamingIngest store layout) — the hook that lets a streaming
   * corpus carry a deletion ledger: one map-only scan finds the
   * partitions containing linked documents, and ONLY those partitions
   * are rewritten (write-new-generation per partition, then swap), so a
   * ledger touching 3 of 10,000 partitions costs 3 partition rewrites,
   * not a corpus rewrite. Returns the rewritten partition ids.
   *
   * Crash-safety: re-running the ledger repairs EVERY crash window,
   * because the recovery preamble below first settles any leftover
   * staging directory — keyed on its `_SUCCESS` marker:
   *  - staging WITHOUT `_SUCCESS`: the previous run died mid-write;
   *    the live store is untouched (no swap ever starts before the
   *    staging write commits), so the partial staging is discarded;
   *  - staging WITH `_SUCCESS`: the previous run died somewhere in its
   *    swap loop; every staged partition is the rewritten twin of its
   *    live one, so each is swapped in (the live dir, if still
   *    present, is replaced; if the crash hit between delete and
   *    rename, the staged copy is the partition's ONLY copy and the
   *    rename restores it). Completing an old ledger's swap under a
   *    NEW ledger is also correct — deletion requests compose, and the
   *    new pass re-probes everything it swaps in.
   * Without this preamble, a crash between a partition's delete and
   * its rename would leave the only copy in staging, and a rerun's
   * overwrite-mode staging write would destroy it.
   *
   * Filesystem-call discipline: Hadoop `FileSystem.rename`/`delete`
   * report most failures by RETURNING FALSE, not throwing — and after
   * `delete(live)` succeeded, a silently failed rename leaves the
   * partition's only copy in staging, which the unconditional staging
   * cleanup would then destroy. Every swap-loop rename (and the
   * delete of a still-present live dir) is therefore checked, and a
   * failure aborts BEFORE the staging cleanup with staging + its
   * `_SUCCESS` intact — exactly the "crashed mid-swap" state the
   * recovery preamble repairs on rerun. [[recoverStaging]] applies the
   * same discipline.
   *
   * Concurrency contract (single maintenance writer): the staging dir
   * is a fixed sibling (`storePath + "_rtbf_staging"`), so the ledger
   * pass assumes NO concurrent ledger pass on the same store — a
   * second run's recovery preamble would settle (delete or half-swap)
   * the first run's in-flight staging. Enforced below: the run fails
   * loudly if a staging dir exists and is younger than
   * [[stagingFreshMillis]] (a crashed run's leftover goes stale and is
   * then recovered; a LIVE run's staging is fresh). Concurrent
   * streaming INGEST batches are fine — they write new `_batch_id`
   * partitions this pass simply doesn't probe; the next pass picks
   * them up (passes compose, `maxLedgerRows` note above). Readers
   * racing a swap can see a partition briefly absent (the
   * delete→rename gap is two metadata ops wide); maintenance windows
   * or snapshot readers are the caller's tool for that.
   */
  def applyLedgerToStore(spark: SparkSession, storePath: String,
                         pseudoCol: String, ledger: DataFrame, key: String,
                         mac: Boolean,
                         replacement: String = "<FORGOTTEN>",
                         derived: Seq[(String, Column)] = Seq.empty,
                         freshMillis: Long = stagingFreshMillis): Seq[Long] = {
    val tags = requestTags(ledger, key, mac)
    if (tags.isEmpty) return Seq.empty
    requireNoLiveWriter(spark, storePath, freshMillis)
    recoverStaging(spark, storePath)
    val store = spark.read.parquet(storePath)
    // partition ids holding at least one linked doc — bounded by the
    // store's partition count (thousands), not its row count; the
    // boolean linksAnyTag scan keeps this pass rewrite-free
    val hit = store
      .filter(TF.linksAnyTag(col(pseudoCol), tags))
      .select(col("_batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    if (hit.isEmpty) return Seq.empty
    // stage the rewritten partitions OUTSIDE the store (a dynamic
    // overwrite reading its own target lazily would race the delete),
    // then swap each partition dir into place
    val staging = storePath + "_rtbf_staging"
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    withDerived(
      store.filter(col("_batch_id").isin(hit: _*))
        .withColumn(pseudoCol, TF.forgetTags(col(pseudoCol), tags, replacement)),
      derived)
      .write.mode("overwrite").partitionBy("_batch_id").parquet(staging)
    hit.foreach { b =>
      val live = new org.apache.hadoop.fs.Path(storePath, s"_batch_id=$b")
      val staged = new org.apache.hadoop.fs.Path(staging, s"_batch_id=$b")
      swapIn(fs, staged, live)
    }
    require(fs.delete(new org.apache.hadoop.fs.Path(staging), true),
      s"failed to remove staging $staging after a complete swap")
    hit
  }

  /**
   * Partition-targeted DELETION from a doc-keyed, `_batch_id`-
   * partitioned derived store (ANN sketch index / vector store /
   * fingerprint table): drop every row whose id is in `forgottenIds`,
   * rewriting ONLY the partitions that contain one (same staging+swap
   * discipline and crash story as [[applyLedgerToStore]] — a rerun with
   * the same ids re-probes and finishes). A partition whose rows are ALL
   * forgotten gets no staged twin and is simply (checked-)deleted.
   * Returns the rewritten/deleted partition ids.
   *
   * Caveat: purging the LAST row of a store leaves a root with only
   * `_SUCCESS` — the schemaless-dir wedge the ingest gates document.
   * Callers forgetting an entire store should delete it instead.
   */
  def purgeFromStore(spark: SparkSession, storePath: String, idCol: String,
                     forgottenIds: DataFrame,
                     freshMillis: Long = stagingFreshMillis): Seq[Long] = {
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(storePath))) return Seq.empty
    requireNoLiveWriter(spark, storePath, freshMillis)
    recoverStaging(spark, storePath)
    val store = spark.read.parquet(storePath)
    val idType = store.schema(store.schema.fieldIndex(idCol)).dataType
    val ids = forgottenIds
      .select(col(forgottenIds.columns.head).cast(idType).as(idCol))
      .distinct()
    val hit = store.join(ids, Seq(idCol), "left_semi")
      .select(col("_batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    if (hit.isEmpty) return Seq.empty
    val staging = storePath + "_rtbf_staging"
    store.filter(col("_batch_id").isin(hit: _*))
      .join(ids, Seq(idCol), "left_anti")
      .write.mode("overwrite").partitionBy("_batch_id").parquet(staging)
    hit.foreach { b =>
      val live = new org.apache.hadoop.fs.Path(storePath, s"_batch_id=$b")
      val staged = new org.apache.hadoop.fs.Path(staging, s"_batch_id=$b")
      if (fs.exists(staged)) swapIn(fs, staged, live)
      else if (fs.exists(live)) // every row of this partition was purged
        require(fs.delete(live, true),
          s"failed to delete fully-purged partition $live")
    }
    require(fs.delete(new org.apache.hadoop.fs.Path(staging), true),
      s"failed to remove staging $staging after a complete purge swap")
    hit
  }

  /**
   * Purge a doc-keyed UNPARTITIONED sidecar (the bucketed gate's
   * `<store>_cells_n<c>` appendix): whole-file rewrite — sidecars are
   * narrow (id, cell) rows, and their append-only writers give no
   * partition handle. Orphan cell rows are functionally harmless (the
   * probe's inner sig join drops them) but an RTBF release must leave
   * ZERO rows tracing to a forgotten doc. A sidecar purged EMPTY is
   * deleted outright (an absent sidecar is the self-healing state the
   * gate recomputes from). Returns rows dropped.
   *
   * Crash story (own staging suffix + [[recoverFullSwap]]): staging is
   * written with `_SUCCESS`, then live is deleted, then staging renamed
   * in. Recovery: `_SUCCESS` present AND live missing → the crash hit
   * the delete→rename gap, rename staging in; anything else → live is
   * intact, discard staging and recompute.
   */
  def purgeSidecar(spark: SparkSession, path: String, idCol: String,
                   forgottenIds: DataFrame): Long = {
    val livePath = new org.apache.hadoop.fs.Path(path)
    val fs = livePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverFullSwap(spark, path)
    if (!fs.exists(livePath)) return 0L
    val side = spark.read.parquet(path)
    val idType = side.schema(side.schema.fieldIndex(idCol)).dataType
    val ids = forgottenIds
      .select(col(forgottenIds.columns.head).cast(idType).as(idCol))
      .distinct()
    val before = side.count()
    val keep = side.join(ids, Seq(idCol), "left_anti").persist()
    try {
      val after = keep.count()
      if (after == before) return 0L
      val staging = new org.apache.hadoop.fs.Path(path + "_rtbf_swap")
      if (after == 0L) {
        require(fs.delete(livePath, true),
          s"failed to delete fully-purged sidecar $path")
      } else {
        keep.write.mode("overwrite").parquet(staging.toString)
        require(fs.delete(livePath, true),
          s"failed to delete sidecar $path before swap — staging " +
            s"$staging holds the purged copy; rerun recovers")
        require(fs.rename(staging, livePath),
          s"failed to rename $staging -> $path — the staged copy is the " +
            "sidecar's only copy; rerun recovers it")
      }
      before - after
    } finally keep.unpersist()
  }

  /** Settle a leftover whole-dir swap staging (see [[purgeSidecar]]). */
  private[graft] def recoverFullSwap(spark: SparkSession,
                                     path: String): Unit = {
    val staging = new org.apache.hadoop.fs.Path(path + "_rtbf_swap")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(staging)) return
    val live = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS")) &&
        !fs.exists(live))
      require(fs.rename(staging, live),
        s"failed to restore $path from swap staging $staging")
    else
      require(fs.delete(staging, true),
        s"failed to discard swap staging $staging")
  }

  /** What one [[cascadeStores]] pass touched, per store. */
  final case class CascadeReport(corpusPartitions: Seq[Long],
                                 artifactPartitions: Map[String, Seq[Long]],
                                 sidecarRowsDropped: Map[String, Long])

  /**
   * The FULL store-level deletion cascade (r16 verdict #1): one ledger
   * pass over a release's whole store family —
   *  1. the linked doc ids are derived from the UNTOUCHED corpus store
   *     (lazily — nothing rewrites under them until step 3),
   *  2. every doc-keyed derived artifact ([[purgeFromStore]]) and
   *     sidecar ([[purgeSidecar]]) drops those docs' rows — embeddings
   *     and ANN signatures cannot be "rewritten" offline the way text
   *     can, so deletion IS the cascade for them,
   *  3. the corpus store itself is rewritten last
   *     ([[applyLedgerToStore]] with `derived` recomputes, e.g. `fp`).
   * Purges run BEFORE the corpus rewrite so a crash anywhere leaves the
   * linkage discoverable: rerunning the same ledger re-finds the
   * still-linked docs and finishes every store (each step is
   * idempotent). Only after step 3 commits does the linkage disappear —
   * by which point every derived row is already gone.
   */
  def cascadeStores(spark: SparkSession, storePath: String,
                    pseudoCol: String, ledger: DataFrame, key: String,
                    mac: Boolean,
                    replacement: String = "<FORGOTTEN>",
                    derived: Seq[(String, Column)] = Seq.empty,
                    docIdCol: String = "doc_id",
                    artifactStores: Seq[(String, String)] = Seq.empty,
                    sidecars: Seq[(String, String)] = Seq.empty,
                    freshMillis: Long = stagingFreshMillis): CascadeReport = {
    val tags = requestTags(ledger, key, mac)
    if (tags.isEmpty) return CascadeReport(Seq.empty, Map.empty, Map.empty)
    val linked = spark.read.parquet(storePath)
      .filter(TF.linksAnyTag(col(pseudoCol), tags))
      .select(col(docIdCol)).distinct()
    val artifacts = artifactStores.map { case (p, idCol) =>
      p -> purgeFromStore(spark, p, idCol, linked, freshMillis)
    }.toMap
    val sides = sidecars.map { case (p, idCol) =>
      p -> purgeSidecar(spark, p, idCol, linked)
    }.toMap
    val corpusHit = applyLedgerToStore(spark, storePath, pseudoCol, ledger,
      key, mac, replacement, derived, freshMillis)
    CascadeReport(corpusHit, artifacts, sides)
  }

  /** One checked partition swap: delete the live dir (if present), then
    * rename the staged twin into place. Either step returning false
    * ABORTS (exception) before any staging cleanup can run — staging +
    * `_SUCCESS` stay intact, so [[recoverStaging]] repairs on rerun.
    * Hadoop rename/delete signal most failures via a false return, not
    * an exception (ADVICE r16). */
  private[graft] def swapIn(fs: org.apache.hadoop.fs.FileSystem,
                     staged: org.apache.hadoop.fs.Path,
                     live: org.apache.hadoop.fs.Path): Unit = {
    if (fs.exists(live))
      require(fs.delete(live, true),
        s"failed to delete live partition $live — aborting before staging " +
          "cleanup; rerun recovers from staging")
    require(fs.rename(staged, live),
      s"failed to rename $staged -> $live — the staged copy is the " +
        "partition's only copy; aborting before staging cleanup; rerun " +
        "recovers from staging")
  }

  /** Age below which an existing staging dir is treated as a LIVE
    * concurrent ledger run (fail loudly) rather than a crashed run's
    * leftover (recoverable). */
  private[graft] val stagingFreshMillis: Long = 60L * 60 * 1000

  /** Enforce the single-maintenance-writer contract: refuse to run when
    * a staging dir exists whose newest entry is younger than
    * [[stagingFreshMillis]] — that is another ledger pass in flight,
    * and recovering (deleting/half-swapping) its staging would corrupt
    * it. A stale staging falls through to [[recoverStaging]]. */
  private[graft] def requireNoLiveWriter(spark: SparkSession,
                                         storePath: String,
                                         freshMillis: Long = stagingFreshMillis): Unit = {
    val staging = new org.apache.hadoop.fs.Path(storePath + "_rtbf_staging")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(staging)) return
    val newest = (fs.getFileStatus(staging).getModificationTime +:
      fs.listStatus(staging).map(_.getModificationTime).toSeq).max
    require(System.currentTimeMillis() - newest >= freshMillis,
      s"staging $staging is younger than ${freshMillis}ms — another ledger " +
        "pass appears to be in flight on this store (single-maintenance-" +
        "writer contract); wait for it or remove the staging dir if it is " +
        "known dead")
  }

  /** Settle a leftover `_rtbf_staging` directory from a crashed run —
    * see [[applyLedgerToStore]]'s crash-safety doc. Exposed for the
    * crash-window tests. */
  private[graft] def recoverStaging(spark: SparkSession,
                                    storePath: String): Unit = {
    val staging = new org.apache.hadoop.fs.Path(storePath + "_rtbf_staging")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(staging)) return
    if (!fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))) {
      // mid-write crash: live store untouched, partial staging discarded
      require(fs.delete(staging, true),
        s"failed to discard partial staging $staging")
      return
    }
    fs.listStatus(staging)
      .filter(_.getPath.getName.startsWith("_batch_id="))
      .foreach { st =>
        swapIn(fs, st.getPath,
          new org.apache.hadoop.fs.Path(storePath, st.getPath.getName))
      }
    require(fs.delete(staging, true),
      s"failed to remove staging $staging after a complete recovery swap")
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}
import graft.model.Schemas

/**
 * Persistent ANN sketch-index artifact — the on-disk form of the
 * (vec_id, sig) table every sketch cascade probes (s06/s07/s10, the
 * streaming vector-dedup gate). Round-5 sessions rebuilt signatures per
 * session; this makes the index a first-class parquet artifact that is
 * built once, refreshed incrementally, and READ by later sessions,
 * probes, and the streaming gate.
 *
 * Format (one parquet dir, partitioned by `_batch_id`):
 *   vec_id    BIGINT        — the corpus id
 *   embedding ARRAY<FLOAT>  — the raw vector (so exact rerank and the
 *                             gate's cosine confirm read ONE artifact)
 *   sig       ARRAY<BIGINT> — BitSignature(embedding, dim, nBits)
 *   _batch_id BIGINT        — provenance: -1 for bulk build/refresh
 *                             rows, the micro-batch id for rows the
 *                             streaming gate appended
 *
 * This is EXACTLY the store [[graft.streaming.StreamingIngest
 * .startVectorDedupIngest]] maintains, so the staleness contract is
 * structural: a gate-appended survivor IS an index row the moment its
 * batch commits — no separate re-index step. Conversely
 * [[build]] bootstraps a gate store from an existing batch corpus.
 *
 * Readers opt in via the session conf `spark.graft.annIndexDir`: when
 * set, [[graft.NorthStar]]'s sigTable loads `$dir/sig_b<nBits>` instead
 * of recomputing signatures (building and persisting the artifact on
 * first touch), so s06/s07/s10 run against the pre-written index with
 * no in-session signature computation.
 *
 * At 100 TB the index is the cheap side: 64 bytes of signature + the
 * vector per row, append-only writes partitioned by provenance, and
 * every probe reads only (vec_id, sig) — parquet column pruning keeps
 * the fat embedding column out of the hamming scan.
 */
object AnnIndex {

  /** Signature rows for `emb` in artifact layout (unwritten). The
    * signature is computed on the RAW vector column BEFORE the float
    * storage cast — the same input the in-session sigTable path hashes —
    * so a double-typed corpus yields identical signatures (and identical
    * cascade candidates) with and without the artifact. */
  private def sigRows(emb: DataFrame, idCol: String, vecCol: String,
                      dim: Int, nBits: Int, batchId: Long): DataFrame =
    emb.select(col(idCol).cast("long").as("vec_id"),
        VF.bitSignature(col(vecCol), dim, nBits).as("sig"),
        transform(col(vecCol), x => x.cast("float")).as("embedding"))
      .select(col("vec_id"), col("embedding"), col("sig"))
      .withColumn("_batch_id", lit(batchId))

  def exists(spark: SparkSession, path: String): Boolean =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(path))

  /** Bulk-build the artifact from an embeddings table (overwrites).
    * Refuses an empty input before the overwrite, so an existing
    * artifact survives: a zero-row partitioned write leaves a schemaless
    * directory while exists() reports true. The signature rows are a
    * per-row projection of `emb`, so `emb`'s emptiness is theirs. */
  def build(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
            path: String, nBits: Int = 512): Unit = {
    require(!emb.isEmpty,
      s"refusing to build an EMPTY index at $path (a schemaless " +
        "partitioned dir would wedge every later load)")
    sigRows(emb, idCol, vecCol, dim, nBits, batchId = -1L)
      .write.mode("overwrite").partitionBy("_batch_id").parquet(path)
  }

  /** Load the artifact (all provenance partitions — bulk + gate rows)
    * under its declared layout, with no footer-inference job. */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.batchPartitioned(Schemas.vectorStore)).parquet(path)

  /**
   * Incremental refresh: append signature rows for ids present in `emb`
   * but missing from the index (left-anti on vec_id) — the nightly shape
   * after a bulk load lands new corpus rows outside the streaming gate.
   * Returns the number of rows appended. Existing rows are never
   * rewritten, so gate provenance survives refresh.
   */
  def refresh(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
              path: String, nBits: Int = 512): Long = {
    val spark = emb.sparkSession
    if (!exists(spark, path)) {
      build(emb, idCol, vecCol, dim, path, nBits)
      return load(spark, path).count()
    }
    val existing = load(spark, path)
    // a width mismatch would silently mix signature families and break
    // every downstream hamming — fail fast on the first stored row
    existing.select(size(col("sig")).as("w")).limit(1).collect()
      .foreach { r =>
        require(r.getInt(0) == nBits / 64,
          s"index at $path holds ${r.getInt(0) * 64}-bit signatures; " +
            s"refresh called with nBits=$nBits")
      }
    val have = existing.select(col("vec_id"))
    val missing = sigRows(emb, idCol, vecCol, dim, nBits, batchId = -1L)
      .join(have, Seq("vec_id"), "left_anti")
      .persist()
    try {
      val n = missing.count()
      if (n > 0)
        missing.write.mode("append").partitionBy("_batch_id").parquet(path)
      n
    } finally missing.unpersist()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * The session's intermediates in one registry with one lifecycle:
 * memoized table reads, the derived tables several queries share (edge,
 * shingle-hash, pair, sketch and signature tables) and tracked
 * `localCheckpoint()`s.
 *
 * [[memo]] is keyed by (session, corpus dir, key) and returns the SAME
 * DataFrame object for a key, so every query over it shares one plan,
 * one file index and, when the build persisted the frame, one set of
 * cached blocks; a hit never re-persists. A fresh `spark.read.parquet`
 * would re-list the files and re-read the footers on every call.
 *
 * A local checkpoint materializes a DataFrame as persisted executor
 * blocks and truncates its lineage — the right move inside iterative and
 * multi-branch operators (kCore, LPA, linkPredict, bandedHammingPairs) —
 * but Spark frees the blocks only when the ContextCleaner happens to GC
 * the RDD, so repeated calls in a long-lived session would accumulate
 * executor storage. Two call shapes:
 *  - [[tracked]] checkpoints AND registers: for tables the operator's
 *    result still reads lazily. Freed by [[release]].
 *  - [[free]] unpersists now: for per-round tables a loop has superseded
 *    (the successor round is already materialized).
 *
 * Tracked checkpoints are session-wide, not dir-scoped: a checkpoint
 * block carries no corpus identity (operators checkpoint arbitrary edge
 * frames with no path in sight), so every [[release]] of the session
 * frees them. They are the only copy of their data: a result built from
 * a tracked operator must be materialized (collected or written) before
 * release, and re-executing it afterwards fails rather than recomputing.
 *
 * A session's first entry registers one [[SessionScope]] hook, which
 * drops all of the session's entries when its context stops (the blocks
 * died with it), so a session that stops is not retained even when no
 * later graft call happens.
 */
private[graft] object SessionCache {
  /** A held frame and what [[release]] does with it. */
  private final case class Entry(df: DataFrame, drop: DataFrame => Unit)

  /** dir None: a tracked checkpoint, keyed by itself. */
  private val entries = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, Option[String], Any), Entry]

  private def hook(s: SparkSession): Unit =
    SessionScope.onStop("session-cache", s) { () =>
      entries.keys.filter(_._1 eq s).foreach(entries.remove)
    }

  /** The frame memoized under (`s`, `dir`, `key`), built on first use.
    * [[release]] unpersists it only if `build` persisted it: a plain
    * table read or a filter view over a persisted memo is just dropped. */
  def memo(s: SparkSession, dir: String, key: Any)(build: => DataFrame): DataFrame =
    entries.getOrElseUpdate((s, Some(dir), key), {
      hook(s)
      val df = build
      Entry(df, if (df.storageLevel == StorageLevel.NONE) _ => () else _.unpersist())
    }).df

  /** Eagerly localCheckpoint `df` and register the blocks for [[release]]. */
  def tracked(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    val s = cp.sparkSession
    hook(s)
    entries.put((s, None, cp), Entry(cp, free))
    cp
  }

  /** Unpersist the checkpointed blocks behind `cp` now (asynchronous
    * block removal; the RDD leaves the persistent-RDD map at once) and
    * drop its entry. Safe only once nothing will re-read `cp`; freeing
    * twice is a no-op. */
  def free(cp: DataFrame): Unit = {
    entries.remove((cp.sparkSession, None, cp))
    org.apache.spark.sql.GraftBridge.checkpointRdds(cp)
      .foreach(_.unpersist(blocking = false))
  }

  /** Drop `s`'s memos for `dir`, unpersisting those their build
    * persisted, and free all of `s`'s tracked checkpoints. */
  def release(s: SparkSession, dir: String): Unit =
    for (k @ (ks, d, _) <- entries.keys if (ks eq s) && d.forall(_ == dir))
      entries.remove(k).foreach(e => e.drop(e.df))

  /** Test probe: the (dir, key) of every entry `s` holds. */
  private[graft] def held(s: SparkSession): Seq[(Option[String], Any)] =
    entries.keys.collect { case (ks, d, k) if ks eq s => (d, k) }.toSeq
}

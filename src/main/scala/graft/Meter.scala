package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/**
 * Stage metrics of a measured body: the one stage-metrics listener of a
 * SparkContext ([[Meter.apply]] registers it once per context).
 *
 * [[measure]] runs its body under a fresh job group. A job's local
 * properties travel with every job it submits, including the broadcast
 * and adaptive-planning jobs Spark runs on helper threads, so a stage
 * belongs to a measurement exactly when its submission carries that
 * measurement's group. Events of earlier actions carry another group
 * (or none) and cannot bleed in, however late they are delivered. After
 * the body returns, the listener bus is drained, so every stage the body
 * waited on has been delivered before the totals are read.
 */
final class Meter private (sc: SparkContext) extends SparkListener {
  import Meter._

  /** Completed stages per open measurement, keyed by job group. */
  private val open = TrieMap.empty[String, ConcurrentLinkedQueue[StageCost]]
  /** Open measurement of each submitted, not yet completed stage. */
  private val running = TrieMap.empty[Int, String]

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).map(_.getProperty(GroupKey))
      .filter(g => g != null && open.contains(g))
      .foreach(running.put(e.stageInfo.stageId, _))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (g <- running.remove(i.stageId); q <- open.get(g)) {
      val m = i.taskMetrics
      q.add(StageCost(i.numTasks, m.executorCpuTime / 1000000,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.recordsRead))
    }
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    Meter.synchronized { meters.remove(sc) }

  /** Run `body` and return its value with its stage metrics; `label`
    * names the job group in Spark's job descriptions. A throwing
    * body propagates, with the caller's job group restored and nothing
    * recorded: a failure never reads as a timing. */
  def measure[T](label: String)(body: => T): (T, Measurement) = {
    val group = s"graft-meter-${ids.incrementAndGet()}"
    val stages = new ConcurrentLinkedQueue[StageCost]()
    val saved = GroupProps.map(k => k -> sc.getLocalProperty(k))
    open.put(group, stages)
    sc.setJobGroup(group, label)
    try {
      val t0 = System.nanoTime()
      val r = body
      val wall = (System.nanoTime() - t0) / 1e9
      GraftBridge.drainListeners(sc)
      (r, Measurement(wall, stages.asScala.toSeq))
    } finally {
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      open.remove(group)
    }
  }
}

object Meter {
  private val GroupKey = "spark.jobGroup.id"
  /** The local properties [[SparkContext.setJobGroup]] sets. */
  private val GroupProps =
    Seq(GroupKey, "spark.job.description", "spark.job.interruptOnCancel")
  private val ids = new AtomicLong()
  private val meters = scala.collection.mutable.Map.empty[SparkContext, Meter]

  /** One completed stage: tasks, executor CPU, shuffle bytes written and
    * shuffle rows read. */
  final case class StageCost(tasks: Int, cpuMs: Long,
                             shuffleWriteBytes: Long, shuffleReadRows: Long)

  /** What one measured body cost: its wall seconds and its stages. */
  final case class Measurement(wallS: Double, stages: Seq[StageCost]) {
    def tasks: Long = stages.map(_.tasks.toLong).sum
    def cpuMs: Long = stages.map(_.cpuMs).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
    /** The `n` stages that burned the most executor CPU. */
    def top(n: Int): Seq[StageCost] = stages.sortBy(-_.cpuMs).take(n)
  }

  /** The meter of `spark`'s context, registered on first use. */
  def apply(spark: SparkSession): Meter = synchronized {
    val sc = spark.sparkContext
    meters.getOrElseUpdate(sc, { val m = new Meter(sc); sc.addSparkListener(m); m })
  }
}

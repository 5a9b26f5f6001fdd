package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A timed interval recorded by the benchmark around one call into the
  * program. Times are epoch milliseconds, the clock Spark's listener
  * events carry, so spans, SQL executions and stages share one axis. */
final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long) {
  def ms: Long = end - start
}

/** Per-stage totals, attributed to the job group (the benchmark's span
  * name) that was current on the submitting thread. */
final class StageRec(val stageId: Int, val group: String, val sqlExec: Long,
                     val batch: String, val submitted: Long) {
  var tasks = 0L
  var cpuNs = 0L
  var taskMs = 0L
  var maxTaskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var rowsWritten = 0L
  var bytesWritten = 0L
}

final case class JobRec(jobId: Int, group: String, batch: String, start: Long)

final case class SqlExec(id: Long, description: String, plan: String, start: Long, var end: Long)

/** Listener that keeps jobs, stages, task totals and SQL executions in
  * memory. It is attached only for traced iterations; [[Tracer.spans]]
  * supply the structure the counts are attributed to. */
final class TraceListener extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageRec]
  val sqlExecs = scala.collection.mutable.LinkedHashMap.empty[Long, SqlExec]

  private def prop(p: java.util.Properties, k: String): String =
    if (p == null) null else p.getProperty(k)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, prop(e.properties, "spark.jobGroup.id"),
      prop(e.properties, "streaming.sql.batchId"), e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val exec = Option(prop(e.properties, "spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
    stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId,
      prop(e.properties, "spark.jobGroup.id"), exec,
      prop(e.properties, "streaming.sql.batchId"),
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      val d = e.taskInfo.duration
      s.taskMs += d
      s.maxTaskMs = math.max(s.maxTaskMs, d)
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.rowsWritten += m.outputMetrics.recordsWritten
        s.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlExecs(s.executionId) = SqlExec(s.executionId, s.description,
        s.physicalPlanDescription, s.time, -1L)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqlExecs.get(s.executionId).foreach(_.end = s.time)
    }
    case _ =>
  }
}

/** Span recorder. A span also sets the Spark job group on the calling
  * thread, so every job the call submits (including the broadcast and
  * adaptive-planning jobs Spark runs on helper threads, which inherit
  * the caller's properties) is attributed to it. */
final class Tracer(sc: org.apache.spark.SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def span[A](name: String)(body: => A): A = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, name, parent, System.currentTimeMillis(), -1L)
    spans += s
    stack = s :: stack
    sc.setJobGroup(name, name)
    try body
    finally {
      s.end = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.name, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** A span observed rather than entered (a SQL execution the program
    * ran on its own thread), hung under `parent`. */
  def observed(name: String, parent: Span, start: Long, end: Long): Span = {
    val s = Span(spans.size, name, parent.id, start, end)
    spans += s
    s
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Span duration minus the part of it that its children cover. */
  def selfMs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start max s.start, k.end min s.end))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    for ((a, b) <- kids) {
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    s.ms - covered
  }
}

object Trace {
  /** Spark's rendering of a plan with its per-session expression ids
    * (`#123`) and plan ids removed, hashed: equal hashes mean the same
    * physical plan shape across runs and seeds. */
  def planHash(plan: String): String = {
    val norm = plan.replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id")
      .replaceAll("\\[id=#?\\d+\\]", "[id]")
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.digest(norm.getBytes("UTF-8")).take(6).map(b => f"${b & 0xff}%02x").mkString
  }
}

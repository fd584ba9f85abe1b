package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One recorded span: a call into a layer. `parent` is the enclosing span
  * (-1 at the top), `op` the benchmark op it belongs to (-1 outside ops). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, var endNs: Long)

/** In-memory span recorder for the client thread. Spans are written once,
  * at the end of the run. While a span is open, the Spark local property
  * [[Spans.SpanKey]] names it, so the listener attributes every job the
  * span starts to it. Disabled, it only runs the body. */
final class Spans(sc: SparkContext, val enabled: Boolean) {
  val all = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  var op: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sp = Span(all.size, stack.headOption.fold(-1)(_.id), op, name,
        System.nanoTime(), -1L)
      all += sp
      stack = sp :: stack
      sc.setLocalProperty(Spans.SpanKey, sp.id.toString)
      try body
      finally {
        sp.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Spans.SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }
}

object Spans {
  val SpanKey = "perfbench.span"
  val OpKey = "perfbench.op"
}

final case class JobRec(job: Int, op: Int, span: Int, batch: Long,
                        startMs: Long, var endMs: Long, var ok: Boolean)
final case class TaskRec(job: Int, launchMs: Long, finishMs: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                         shuffleRead: Long, spill: Long, failed: Boolean)

/** The benchmark's own SparkListener: jobs with the op, span and stream
  * batch they ran for, stages that ran, and per-task metrics. Registered
  * only in traced runs. */
final class LayerListener extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val stagesRun = ArrayBuffer.empty[Int] // job id per completed stage
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val byId = scala.collection.mutable.Map.empty[Int, JobRec]

  private def prop(e: SparkListenerJobStart, k: String): Option[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val r = JobRec(e.jobId,
      prop(e, Spans.OpKey).fold(-1)(_.toInt),
      prop(e, Spans.SpanKey).fold(-1)(_.toInt),
      prop(e, "streaming.sql.batchId").fold(-1L)(_.toLong),
      e.time, -1L, ok = false)
    jobs += r
    byId(e.jobId) = r
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach { r =>
      r.endMs = e.time
      r.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (e.stageInfo.completionTime.isDefined)
      stagesRun += stageJob.getOrElse(e.stageInfo.stageId, -1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks += TaskRec(stageJob.getOrElse(e.stageId, -1), info.launchTime,
      info.finishTime,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      info.failed || info.killed)
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product =>
      p.productElementNames.zip(p.productIterator)
        .map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case other => str(other.toString)
  }
}

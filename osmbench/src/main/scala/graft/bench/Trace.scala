package graft.bench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one op share `op`; `parent` is
  * the enclosing span's id, or -1.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the benchmark's single calling thread.
  * Disabled, `span` is a plain call.
  */
final class Tracer {
  var enabled = false
  var op: Int = -1
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans(id) = Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Per span name: the mean self time of one call, i.e. its duration
    * minus the part its child spans cover.
    */
  def selfSecondsPerCall: Map[String, Double] = {
    val childSum = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childSum(s.parent) += s.seconds)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childSum(s.id)).sum / ss.size
    }
  }

  def toJsonLines: Iterator[String] = spans.iterator.map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
}

/** Counters of Spark's scheduler and Catalyst, fed by a SparkListener and
  * a QueryExecutionListener the benchmark registers. Read them only after
  * draining the listener bus (`org.apache.spark.graftbench.ListenerDrain`).
  */
final case class Snapshot(jobs: Long, stages: Long, tasks: Long, taskCpuNs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, analysisMs: Long,
    optimizationMs: Long, planningMs: Long, loadJobs: Long, loadMs: Long) {
  private def zip(o: Snapshot)(f: (Long, Long) => Long): Snapshot = {
    val v = productIterator.zip(o.productIterator)
      .map { case (a: Long, b: Long) => f(a, b); case _ => 0L }.toArray
    Snapshot(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9), v(10), v(11))
  }
  def -(o: Snapshot): Snapshot = zip(o)(_ - _)
  def +(o: Snapshot): Snapshot = zip(o)(_ + _)
}

object Snapshot {
  val Zero: Snapshot = Snapshot(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

final class SparkCounters extends SparkListener with QueryExecutionListener {
  private var jobs, stages, tasks, taskCpuNs, shuffleRead, shuffleWrite, spill = 0L
  private var analysisMs, optimizationMs, planningMs, loadJobs, loadMs = 0L
  // job id -> (start ms, job is a Tables.load schema-inference job)
  private val started = mutable.Map.empty[Int, (Long, Boolean)]

  def snapshot(): Snapshot = synchronized {
    Snapshot(jobs, stages, tasks, taskCpuNs, shuffleRead, shuffleWrite, spill,
      analysisMs, optimizationMs, planningMs, loadJobs, loadMs)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    // a job's stage is named after its first frame outside Spark; the
    // parquet footer-reading job of a schema-inferring load is
    // "parquet at Tables.scala:<line>"
    started(e.jobId) = (e.time, e.stageInfos.exists(_.name.contains("Tables.scala")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { case (t0, isLoad) =>
      if (isLoad) { loadJobs += 1; loadMs += e.time - t0 }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    tasks += e.stageInfo.numTasks
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      taskCpuNs += m.executorCpuTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
    planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

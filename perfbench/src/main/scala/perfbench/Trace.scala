package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around layer calls. Tracing is on while `run` is non-null; a
  * span records name, start, end, parent span and run id, is kept in
  * memory and written with the raw results when the process ends.
  */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, run: String, startNs: Long, endNs: Long)

  @volatile var run: String = _
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def on: Boolean = run != null
  def currentId: Long = current.get

  /** Span under the calling thread's current span. */
  def span[T](name: String)(body: => T): T = span(name, current.get)(body)

  /** Span under an explicit parent (for calls on another thread). */
  def span[T](name: String, parent: Long)(body: => T): T = {
    val r = run
    if (r == null) body
    else {
      val id = ids.incrementAndGet()
      val prev = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, r, t0, System.nanoTime()))
        current.set(prev)
      }
    }
  }

  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toSeq }
}

/** Engine counters from the Spark listener bus, for traced passes. */
final class SparkCounters extends SparkListener {
  // DSv2 custom metrics reach the listener under their descriptions
  private val sourceMetricNames: Map[String, String] =
    graft.sources.SourceMetrics.supported.map(m => m.description() -> m.name()).toMap

  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val sourceMetrics: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  val stageSkew: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      executorCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += e.taskInfo.duration
    e.taskInfo.accumulables.foreach { a =>
      a.name.flatMap(sourceMetricNames.get).foreach { n =>
        a.update match {
          case Some(v: Long) => sourceMetrics(n) += v
          case Some(v: java.lang.Long) => sourceMetrics(n) += v.longValue
          case _ => ()
        }
      }
    }
  }

  /** Skew of a stage: its slowest task over its median task. */
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    taskMs.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { d =>
      if (d.size >= 2) {
        val s = d.sorted
        stageSkew += s.last.toDouble / math.max(1L, s((s.size - 1) / 2)).toDouble
      }
    }
  }
}

/** Driver planning time: analysis + optimization + planning phases of
  * every reported `QueryExecution`.
  */
final class PlanTimer extends QueryExecutionListener {
  @volatile var planMs = 0L
  private def add(qe: QueryExecution): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

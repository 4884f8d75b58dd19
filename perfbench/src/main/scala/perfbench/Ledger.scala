package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: name, start and end (System.nanoTime), the index of the
  * span that caused it (-1 at the root) and the operation it belongs to. */
final case class Span(name: String, start: Long, end: Long, parent: Int, runId: Int)

/** Span recorder for the traced run. Spans stay in memory until the run
  * ends; the harness is single-threaded, so child spans never overlap. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  /** Operation the next spans belong to; -1 during set-up. */
  var runId = -1

  def apply[T](name: String)(body: => T): T = {
    val idx = buf.length
    buf += Span(name, System.nanoTime(), -1L, open.headOption.getOrElse(-1), runId)
    open = idx :: open
    try body
    finally {
      buf(idx) = buf(idx).copy(end = System.nanoTime())
      open = open.tail
    }
  }

  def all: Seq[Span] = buf.toSeq

  /** Seconds per span name within one operation, each span counted by its
    * self time: its duration minus the part its child spans cover. */
  def selfSeconds(run: Int): Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    buf.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    buf.zipWithIndex.collect { case (s, i) if s.runId == run =>
      s.name -> (s.end - s.start - childNs(i)) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

/** Counter ledger: a SparkListener plus a QueryExecutionListener that add
  * Spark's own task, stage, job and planning counters to the layer that
  * launched the work. Observing adds no job.
  *
  * A job's layer is the `perfbench.layer` local property the harness sets
  * around each call; the micro-batch thread of a streaming query does not
  * inherit it, and its jobs count as layer `stream`. */
final class Ledger extends SparkListener with QueryExecutionListener {
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageLayer = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]

  private def add(key: String, v: Double): Unit = counters(key) += v

  /** Counters gathered since the last call, after the bus has drained. */
  def take(spark: SparkSession): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized { val m = counters.toMap; counters.clear(); m }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val layer = prop(Ledger.LayerProp)
      .getOrElse(if (prop("sql.streaming.queryId").isDefined) "stream" else "other")
    e.stageIds.foreach(stageLayer(_) = layer)
    jobStart(e.jobId) = (layer, e.time)
    add(s"$layer.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (layer, t0) => add(s"$layer.job_s", (e.time - t0) / 1e3) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add(s"${stageLayer.getOrElse(e.stageInfo.stageId, "other")}.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val l = stageLayer.getOrElse(e.stageId, "other")
      add(s"$l.tasks", 1)
      add(s"$l.task_cpu_s", m.executorCpuTime / 1e9)
      add(s"$l.gc_s", m.jvmGCTime / 1e3)
      add(s"$l.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(s"$l.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add(s"$l.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(s"$l.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(s"$l.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val phases = qe.tracker.phases
      def phase(p: String) = phases.get(p).map(s => (s.endTimeMs - s.startTimeMs) / 1e3).getOrElse(0.0)
      add("plan.analysis_s", phase("analysis"))
      add("plan.optimize_s", phase("optimization"))
      add("plan.physical_s", phase("planning"))
      add("plan.exchanges", Ledger.exchanges(qe.executedPlan).toDouble)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Ledger {
  val LayerProp = "perfbench.layer"

  /** Shuffle exchanges in the plan as executed, after adaptive
    * re-planning; a reused exchange is not counted again. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum
  }
}

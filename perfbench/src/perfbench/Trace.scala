package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The layers a span can be charged to: the engine's modules plus `spark`
  * (Spark's driver and executor work behind an action). A span's layer is
  * its name up to the first '.'; any other prefix is benchmark harness. */
object Layers {
  val names: Seq[String] =
    Seq("data", "index", "expr", "pipeline", "sources", "streaming", "SparkEntry", "spark")
}

/** Spans recorded from the benchmark's side of each call into a layer.
  * Single-threaded and properly nested, so self time is the span's
  * duration minus its direct children's. Disabled = zero bookkeeping;
  * only toggle between outermost spans. */
final class Spans {
  var enabled = false
  private final class Open(val name: String, val start: Long) { var childNanos = 0L }
  private var stack: List[Open] = Nil
  private val selfNanos = mutable.LinkedHashMap.empty[String, Long]
  private var rootNanos = 0L

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val o = new Open(name, System.nanoTime())
      stack = o :: stack
      try body
      finally {
        val dur = System.nanoTime() - o.start
        stack = stack.tail
        stack.headOption match {
          case Some(parent) => parent.childNanos += dur
          case None => rootNanos += dur
        }
        val layer = name.takeWhile(_ != '.')
        selfNanos(layer) = selfNanos.getOrElse(layer, 0L) + dur - o.childNanos
      }
    }

  /** Seconds of self time charged to `layer`. */
  def selfSeconds(layer: String): Double = selfNanos.getOrElse(layer, 0L) / 1e9

  /** Share of the outermost spans' wall time charged to named layers. */
  def coverage: Double =
    if (rootNanos == 0) 0.0
    else Layers.names.map(l => selfNanos.getOrElse(l, 0L)).sum.toDouble / rootNanos
}

/** Spark's public counters over one traced operation: a SparkListener
  * (jobs, stages, tasks and their metrics), a QueryExecutionListener
  * (planning phases, broadcast-join output rows), CodegenMetrics /
  * CodeGenerator compile time and a StreamingQueryListener (micro-batches).
  * Registered only in traced runs. */
final class SparkProbe(spark: SparkSession) {
  import SparkProbe._

  private val lock = new Object
  private var cur = new Acc

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      cur.jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      cur.jobs += 1
      cur.jobStart.remove(e.jobId).foreach(s => cur.jobSpans += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      cur.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      cur.tasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        cur.taskRunMs += m.executorRunTime
        cur.taskCpuNs += m.executorCpuTime
        cur.gcMs += m.jvmGCTime
        cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        cur.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        // the Spark UI's scheduler delay: task wall not spent running,
        // (de)serialising or fetching the result
        cur.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        cur.stageRuns.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long]) += m.executorRunTime
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val planMs = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      val joinRows = bhjRows(qe.executedPlan)
      lock.synchronized {
        cur.planningMs += planMs
        if (joinRows.nonEmpty) cur.bhjRows += joinRows.max
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val p = e.progress
        cur.batches += 1
        Option(p.durationMs.get("triggerExecution")).foreach(ms => cur.batchMs += ms.longValue)
        cur.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Counters of one operation: everything the listeners saw while
    * `body` ran, plus its wall time and codegen compile time. */
  def measure[T](body: => T): (T, Op) = {
    drain()
    lock.synchronized { cur = new Acc }
    val c0 = CodeGenerator.compileTime
    val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.currentTimeMillis()
    val n0ns = System.nanoTime()
    val r = body
    val wallNs = System.nanoTime() - n0ns
    val t1 = System.currentTimeMillis()
    drain()
    val acc = lock.synchronized { val a = cur; cur = new Acc; a }
    (r, acc.toOp(wallNs / 1e9, t0, t1, (CodeGenerator.compileTime - c0) / 1e9,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0))
  }
}

object SparkProbe {
  private final class Acc {
    var jobs, stages, tasks, taskRunMs, taskCpuNs, gcMs, schedDelayMs = 0L
    var shuffleWriteBytes, spillBytes, planningMs, batches, stateCommitMs = 0L
    val jobStart = mutable.Map.empty[Int, Long]
    val jobSpans = ArrayBuffer.empty[(Long, Long)]
    val stageRuns = mutable.Map.empty[Int, ArrayBuffer[Long]]
    val bhjRows = ArrayBuffer.empty[Long]
    val batchMs = ArrayBuffer.empty[Long]

    def toOp(wallS: Double, t0: Long, t1: Long, compileS: Double, compiles: Long): Op = {
      // union of job spans clipped to the operation's window
      val spans = jobSpans.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      spans.foreach { case (s, e) =>
        if (s >= end) { covered += e - s; end = e }
        else if (e > end) { covered += e - end; end = e }
      }
      // skew of the heaviest stage: its slowest task over its median task
      val skew = stageRuns.values.filter(_.size >= 2).maxByOption(_.sum).map { runs =>
        val s = runs.sorted
        s.last.toDouble / math.max(1L, s(s.size / 2))
      }.getOrElse(1.0)
      Op(wallS, jobs, stages, tasks, planningMs / 1e3, compileS, compiles,
        schedDelayMs / 1e3, math.max(0.0, wallS - covered / 1e3), taskRunMs / 1e3,
        taskCpuNs / 1e9, gcMs / 1e3, skew, shuffleWriteBytes, spillBytes,
        bhjRows.toSeq, batches, batchMs.toSeq, stateCommitMs)
    }
  }

  /** Output rows of every broadcast hash join in the final (post-AQE) plan. */
  def bhjRows(plan: SparkPlan): Seq[Long] = plan match {
    case a: AdaptiveSparkPlanExec => bhjRows(a.executedPlan)
    case q: QueryStageExec => bhjRows(q.plan)
    case j: BroadcastHashJoinExec =>
      j.metrics.get("numOutputRows").map(_.value).toSeq ++ j.children.flatMap(bhjRows)
    case other => other.children.flatMap(bhjRows)
  }
}

/** One traced operation's Spark counters. */
final case class Op(wallS: Double, jobs: Long, stages: Long, tasks: Long, planningS: Double,
                    compileS: Double, compiles: Long, schedDelayS: Double, residueS: Double,
                    taskRunS: Double, taskCpuS: Double, gcS: Double, skew: Double,
                    shuffleWriteBytes: Long, spillBytes: Long, bhjRows: Seq[Long],
                    batches: Long, batchMs: Seq[Long], stateCommitMs: Long)

package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One query call as the traced run saw it: per-layer totals over the
  * Spark jobs, stages, tasks, plans and stream batches it caused. */
final case class Span(name: String, layers: Map[String, Double])

/** Records spans from Spark's public listener interfaces: a
  * SparkListener (jobs, stages, tasks, storage blocks), a
  * QueryExecutionListener (executed plans), a StreamingQueryListener
  * (micro-batches) and Spark's CodegenMetrics. Events accumulate until
  * [[close]] turns them into one [[Span]]; the caller drains the
  * listener bus first so the span is complete. */
final class Trace(spark: SparkSession) {
  import Trace.Job
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  private val acc = mutable.HashMap[String, Double]().withDefaultValue(0.0)
  private val batchMs = mutable.ArrayBuffer[Long]()
  private def add(k: String, v: Double): Unit = acc(k) = acc(k) + v

  private object Plans extends AdaptiveSparkPlanHelper {
    def record(plan: SparkPlan): Unit = {
      def metric(p: SparkPlan, m: String): Double =
        p.metrics.get(m).map(_.value.toDouble).getOrElse(0.0)
      collectWithSubqueries(plan) { case p => p }.foreach { p =>
        add("codegen.fallback_nodes", p.expressions
          .map(_.collect { case e: CodegenFallback => e }.size).sum.toDouble)
        p match {
          case j: BaseJoinExec =>
            val out = metric(j, "numOutputRows")
            add("ops.join_output_rows", out)
            acc("ops.max_join_rows") = math.max(acc("ops.max_join_rows"), out)
          case _ =>
        }
        add("write.files", metric(p, "numFiles"))
      }
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs(e.jobId) = Job(e.jobId, desc, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized { add("driver.stages", 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        add("driver.tasks", 1)
        add("exec.task_ms", m.executorRunTime.toDouble)
        add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        add("exec.gc_ms", m.jvmGCTime.toDouble)
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer())
          .append(m.executorRunTime)
        if (m.inputMetrics.recordsRead > 0 || m.inputMetrics.bytesRead > 0) {
          add("scan.tasks", 1)
          add("scan.task_ms", m.executorRunTime.toDouble)
          add("scan.input_mb", m.inputMetrics.bytesRead / 1e6)
          add("scan.input_rows", m.inputMetrics.recordsRead.toDouble)
        }
        add("exchange.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("exchange.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("exchange.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("exchange.spill_mb",
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        if (m.outputMetrics.bytesWritten > 0) {
          add("write.output_mb", m.outputMetrics.bytesWritten / 1e6)
          add("write.ms", m.executorRunTime.toDouble)
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      Trace.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        add("materialize.pinned_mb", (b.memSize + b.diskSize) / 1e6)
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Trace.this.synchronized { Plans.record(qe.executedPlan) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        Option(e.progress.durationMs.get("triggerExecution"))
          .foreach(ms => batchMs.append(ms.longValue))
      }
  }

  /** (compilations, summed compile ms) from Spark's codegen histogram.
    * The sum is exact while the histogram's reservoir (1028 samples)
    * has not started evicting; after that it is estimated as count ×
    * mean, which is all the histogram still knows. */
  private def compileState(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val s = h.getSnapshot
    (n, if (n <= s.size) s.getValues.sum.toDouble else s.getMean * n)
  }
  private var compile0 = compileState()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Forget everything recorded so far; the next span starts here. */
  def reset(): Unit = synchronized {
    jobs.clear(); stageTaskMs.clear(); acc.clear(); batchMs.clear()
    compile0 = compileState()
  }

  /** Close the span of query `name` that ran over [t0, t1] (epoch ms),
    * its `fn(spark, dir)` call ending at tBuilt. The caller has drained
    * the listener bus. */
  def close(name: String, t0: Long, tBuilt: Long, t1: Long): Span = synchronized {
    val wall = (t1 - t0).toDouble
    val ivs = jobs.values.toSeq.map(j => (j.start, if (j.end < 0) t1 else j.end))
    val pins = jobs.values.toSeq.filter(_.desc.startsWith("pin @"))
      .map(j => (j.start, if (j.end < 0) t1 else j.end))
    val (c1, ms1) = compileState()
    val skews = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = s(s.size / 2).toDouble
      if (med > 0) s.last / med else 1.0
    }
    val layers = acc.toMap ++ Map(
      "queries.build_ms" -> (tBuilt - t0).toDouble,
      "queries.eager_jobs" -> jobs.values.count(_.start <= tBuilt).toDouble,
      "driver.gap_ms" -> math.max(0.0, wall - Trace.union(ivs, t0, t1)),
      "driver.jobs" -> jobs.size.toDouble,
      "codegen.compile_ms" -> (ms1 - compile0._2),
      "codegen.classes" -> (c1 - compile0._1).toDouble,
      "materialize.pin_jobs" -> pins.size.toDouble,
      "materialize.pin_ms" -> Trace.union(pins, t0, t1),
      "exec.skew" -> (if (skews.isEmpty) 1.0 else skews.max),
      "stream.batches" -> batchMs.size.toDouble,
      "stream.batch_ms_p50" ->
        (if (batchMs.isEmpty) 0.0 else batchMs.sorted.apply(batchMs.size / 2).toDouble),
      "stream.batch_ms_max" -> (if (batchMs.isEmpty) 0.0 else batchMs.max.toDouble))
    Span(name, layers)
  }
}

object Trace {
  private final case class Job(id: Int, desc: String, start: Long,
                               var end: Long = -1L)

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def union(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}

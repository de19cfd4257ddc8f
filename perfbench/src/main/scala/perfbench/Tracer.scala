package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the trace. Times are epoch microseconds; `parent` is
  * the id of the span that caused this one (-1 for the root).
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startUs: Long, var endUs: Long)

/** Counters of one query call, filled from listener events. */
final class CallStats {
  val m: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  // jobId -> (start ms, end ms, issued while the query was built)
  val jobs = mutable.Map.empty[Int, (Long, Long, Boolean)]
  val streamStateRows = mutable.Map.empty[String, Double]
  var cachedPeakBytes: Double = 0.0
  def add(k: String, v: Double): Unit = m(k) = m(k) + v
}

/** Records spans and per-call counters from outside the engine: a
  * SparkListener (jobs, stages, tasks, SQL executions, storage), a
  * QueryExecutionListener (Catalyst phases and the AQE-final plan) and a
  * StreamingQueryListener (micro-batches and state).
  *
  * Attribution: the client sets a job group per call and phase
  * (`pb-<call>-build` / `pb-<call>-eval`); a stream's jobs carry its runId
  * as their group instead, and `onQueryStarted` (delivered synchronously
  * while the call is running) maps that runId to the call. Events that
  * carry no group are credited to the call that is open when the bus
  * delivers them, which is exact because the client drains the bus before
  * it starts the next call.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  // job group -> (call, issued while building, phase span)
  private val groups = mutable.Map.empty[String, (CallStats, Boolean, Int)]
  private val jobCall = mutable.Map.empty[Int, (CallStats, Int)] // job -> (call, span)
  private val stageCall = mutable.Map.empty[Int, (CallStats, Int)] // stage -> (call, job span)
  private val stageTasks = mutable.Map.empty[Int, (Double, Double, Int)] // max, sum, count
  private val sqlSpan = mutable.Map.empty[Long, Int]
  private val rddBlocks = mutable.Map.empty[String, Double]
  private var rddBytes = 0.0
  @volatile private var current: Option[(CallStats, Boolean, Int)] = None

  private val offsetUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = System.nanoTime() / 1000L + offsetUs

  def span(parent: Int, kind: String, name: String, startUs: Long): Int = synchronized {
    val s = Span(spans.size, parent, kind, name, startUs, startUs)
    spans += s
    s.id
  }
  def close(id: Int, endUs: Long): Unit = synchronized { spans(id).endUs = endUs }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized {
        val run = e.runId.toString
        if (!groups.contains(run)) current.foreach(c => groups(run) = c)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        groups.get(p.runId.toString).foreach { case (c, _, _) =>
          def ms(k: String): Double =
            Option(p.durationMs.get(k)).map(_.doubleValue / 1000.0).getOrElse(0.0)
          c.add("stream.batches", 1)
          c.add("stream.trigger_s", ms("triggerExecution"))
          c.add("stream.add_batch_s", ms("addBatch"))
          c.add("stream.commit_s", ms("walCommit") + ms("commitOffsets"))
          c.streamStateRows(p.runId.toString) =
            p.stateOperators.map(_.numRowsTotal.toDouble).sum
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  sc.addSparkListener(this)
  spark.listenerManager.register(this)
  spark.streams.addListener(streamListener)

  /** Opens a call; its phases follow via [[phase]]. */
  def begin(): CallStats = synchronized {
    val c = new CallStats
    c.cachedPeakBytes = rddBytes
    c
  }

  def phase(c: CallStats, eager: Boolean, group: String, phaseSpan: Int): Unit = synchronized {
    groups(group) = (c, eager, phaseSpan)
    current = Some((c, eager, phaseSpan))
  }

  /** Waits until the bus has delivered the call's events, then derives
    * the counters that need all of them.
    */
  def finish(c: CallStats, startUs: Long, endUs: Long): Unit = {
    PerfbenchBus.drain(sc)
    synchronized {
      current = None
      val all = c.jobs.values.toSeq
      c.add("exec.driver_gap_s", (endUs - startUs) / 1e6 -
        unionSeconds(all.map(j => (j._1, j._2)), startUs / 1000, endUs / 1000))
      c.add("entry.eager_job_s",
        unionSeconds(all.filter(_._3).map(j => (j._1, j._2)), Long.MinValue, Long.MaxValue))
      c.add("entry.eager_jobs", all.count(_._3).toDouble)
      c.add("stream.state_rows", c.streamStateRows.values.sum)
      c.m("storage.cached_mb_peak") = c.cachedPeakBytes / 1e6
      c.m("cachescope.rdds_left") = sc.getPersistentRDDs.size.toDouble
    }
  }

  private def unionSeconds(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var total = 0L
    var end = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s >= end) { total += e - s; end = e }
        else if (e > end) { total += e - end; end = e }
      }
    total / 1000.0
  }

  private def callOf(group: String): Option[(CallStats, Boolean, Int)] =
    Option(group).flatMap(groups.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    callOf(props.map(_.getProperty("spark.jobGroup.id")).orNull).foreach { case (c, eager, ph) =>
      val parent = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => sqlSpan.get(id.toLong)).getOrElse(ph)
      val id = span(parent, "job", s"job ${e.jobId}", e.time * 1000L)
      jobCall(e.jobId) = (c, id)
      c.jobs(e.jobId) = (e.time, e.time, eager)
      c.add("exec.jobs", 1)
      e.stageIds.foreach(s => if (!stageCall.contains(s)) stageCall(s) = (c, id))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobCall.remove(e.jobId).foreach { case (c, id) =>
      close(id, e.time * 1000L)
      c.jobs.get(e.jobId).foreach(j => c.jobs(e.jobId) = (j._1, e.time, j._3))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageCall.get(info.stageId).foreach { case (c, jobSpan) =>
      val start = info.submissionTime.getOrElse(0L)
      val end = info.completionTime.getOrElse(start)
      close(span(jobSpan, "stage", s"stage ${info.stageId}", start * 1000L), end * 1000L)
      c.add("exec.stages", 1)
      if (info.numTasks == 1) c.add("exec.single_task_stage_s", (end - start) / 1000.0)
      stageTasks.remove(info.stageId).foreach { case (mx, sum, n) =>
        if (n >= 2) {
          c.add("skew.max_s", mx)
          c.add("skew.mean_s", sum / n)
        }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val tm = e.taskMetrics
    stageCall.get(e.stageId).foreach { case (c, _) =>
      if (tm != null) {
        val run = tm.executorRunTime / 1000.0
        c.add("exec.tasks", 1)
        c.add("exec.task_run_s", run)
        c.add("exec.task_cpu_s", tm.executorCpuTime / 1e9)
        c.add("exec.task_fixed_s", math.max(0.0, e.taskInfo.duration / 1000.0 - run))
        c.add("exec.gc_s", tm.jvmGCTime / 1000.0)
        c.add("scan.input_mb", tm.inputMetrics.bytesRead / 1e6)
        c.add("scan.input_rows", tm.inputMetrics.recordsRead.toDouble)
        if (tm.inputMetrics.bytesRead > 0) c.add("scan.tasks", 1)
        val sr = tm.shuffleReadMetrics
        val sw = tm.shuffleWriteMetrics
        c.add("shuffle.write_mb", sw.bytesWritten / 1e6)
        c.add("shuffle.write_s", sw.writeTime / 1e9)
        c.add("shuffle.read_mb", (sr.remoteBytesRead + sr.localBytesRead) / 1e6)
        c.add("shuffle.records_read", sr.recordsRead.toDouble)
        c.add("shuffle.fetch_wait_s", sr.fetchWaitTime / 1000.0)
        c.add("spill.mb", tm.diskBytesSpilled / 1e6)
        val (mx, sum, n) = stageTasks.getOrElse(e.stageId, (0.0, 0.0, 0))
        stageTasks(e.stageId) = (math.max(mx, run), sum + run, n + 1)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val name = info.blockId.name
      rddBytes -= rddBlocks.getOrElse(name, 0.0)
      if (info.storageLevel.isValid) {
        val size = (info.memSize + info.diskSize).toDouble
        rddBlocks(name) = size
        rddBytes += size
      } else rddBlocks.remove(name)
      current.foreach { case (c, _, _) => c.cachedPeakBytes = math.max(c.cachedPeakBytes, rddBytes) }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        callOf(s.jobGroupId.orNull).foreach { case (c, _, ph) =>
          sqlSpan(s.executionId) = span(ph, "sql", s"execution ${s.executionId}",
            s.time * 1000L)
          c.add("plans.sql_executions", 1)
        }
      case s: SparkListenerSQLExecutionEnd =>
        sqlSpan.remove(s.executionId).foreach(id => close(id, s.time * 1000L))
      case _ =>
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    current.foreach { case (c, _, _) =>
      val phases = qe.tracker.phases
      def phase(k: String): Double = phases.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
      c.add("plans.analysis_s", phase("analysis"))
      c.add("plans.optimization_s", phase("optimization"))
      c.add("plans.planning_s", phase("planning"))
      val plan: SparkPlan = qe.executedPlan
      c.add("plans.exchanges", collectWithSubqueries(plan) {
        case x: ShuffleExchangeLike => x
        case x: BroadcastExchangeLike => x
      }.size.toDouble)
      c.add("plans.reused_exchanges",
        collectWithSubqueries(plan) { case x: ReusedExchangeExec => x }.size.toDouble)
      c.add("op.codegen_s", collectWithSubqueries(plan) {
        case w: WholeStageCodegenExec => w.metrics.get("pipelineTime").map(_.value).getOrElse(0L)
      }.sum / 1000.0)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    try planned(qe) catch { case _: Throwable => () }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    try planned(qe) catch { case _: Throwable => () }

  def writeSpans(path: String): Unit = synchronized {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":${Json.str(s.name)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.asJava, java.nio.charset.StandardCharsets.UTF_8)
  }
}

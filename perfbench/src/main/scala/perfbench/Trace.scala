package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Tracing for the traced run only: a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener, plus spans the
  * harness opens around each call into a layer.
  *
  * Spans nest workload -> pass -> phase (build, load, resume or query) ->
  * pipeline stage -> SQL execution -> job -> stage, share one trace id,
  * stay in memory and are written as JSON by `dump`. Listener events arrive
  * asynchronously, so SQL executions are attached to the innermost harness
  * span that contains their start when the spans are written.
  *
  * `counters` are cumulative; the harness takes deltas around each pass.
  */
final class Trace(spark: SparkSession, val traceId: String) {
  final case class Span(id: Long, parent: Long, kind: String, name: String,
      startMs: Double, endMs: Double, attrs: Map[String, Any])

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private var open: List[Long] = Nil
  private val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val jobSpans = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()

  private val longs = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "streaming.batches")
    .map(_ -> new AtomicLong()).toMap
  private val doubles = Seq("spark.plan_s", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.gc_s", "streaming.add_batch_s", "streaming.planning_s", "streaming.commit_s")
    .map(_ -> new DoubleAdder()).toMap

  def counters: Map[String, Double] =
    longs.map { case (k, v) => k -> v.get.toDouble } ++ doubles.map { case (k, v) => k -> v.sum }

  private val epochAtNano = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs: Double = epochAtNano + System.nanoTime() / 1e6

  /** Harness span around `body`; nests under the enclosing harness span. */
  def span[T](kind: String, name: String)(body: => T): T = {
    val id = ids.getAndIncrement()
    val parent = open.headOption.getOrElse(0L)
    open = id :: open
    val t0 = nowMs
    try body
    finally {
      open = open.tail
      spans.add(Span(id, parent, kind, name, t0, nowMs, Map.empty))
    }
  }

  /** A pipeline stage whose bounds were observed after the fact; `dump`
    * places it under the harness span that contains it. */
  def recordStage(name: String, startMs: Double, endMs: Double): Unit =
    spans.add(Span(ids.getAndIncrement(), -1, "pipeline_stage", name, startMs, endMs, Map.empty))

  /** Wall seconds inside [fromMs, toMs] during which no Spark job ran. */
  def driverGapSeconds(fromMs: Double, toMs: Double): Double = {
    val iv = jobIntervals.asScala.toSeq
      .map { case (s, e) => (math.max(s.toDouble, fromMs), math.min(e.toDouble, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) covered += curE - curS
    math.max(0.0, (toMs - fromMs - covered) / 1000.0)
  }

  /** Blocks until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStarts.put(s.executionId, (s.time, s.description))
      case s: SparkListenerSQLExecutionEnd =>
        Option(sqlStarts.remove(s.executionId)).foreach { case (t0, desc) =>
          spans.add(Span(-s.executionId - 1, -1, "sql", desc.take(120), t0.toDouble, s.time.toDouble,
            Map("execution_id" -> s.executionId)))
        }
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      longs("spark.jobs").incrementAndGet()
      val sqlId = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      val jobSpan = ids.getAndIncrement()
      j.stageIds.foreach(s => stageJob.put(s, jobSpan))
      jobStarts.put(j.jobId, (j.time, sqlId))
      jobSpans.put(j.jobId, jobSpan)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(j.jobId)).foreach { case (t0, sqlId) =>
        jobIntervals.add((t0, j.time))
        val id = Option(jobSpans.remove(j.jobId)).map(_.longValue).getOrElse(ids.getAndIncrement())
        spans.add(Span(id, if (sqlId >= 0) -sqlId - 1 else -1, "job", s"job ${j.jobId}",
          t0.toDouble, j.time.toDouble, Map("sql_execution_id" -> sqlId)))
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      longs("spark.stages").incrementAndGet()
      longs("spark.tasks").addAndGet(i.numTasks)
      val m = i.taskMetrics
      if (m != null) {
        doubles("spark.executor_run_s").add(m.executorRunTime / 1000.0)
        doubles("spark.executor_cpu_s").add(m.executorCpuTime / 1e9)
        doubles("spark.gc_s").add(m.jvmGCTime / 1000.0)
        longs("spark.shuffle_read_bytes").addAndGet(
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        longs("spark.shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
        longs("spark.spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      val parent = Option(stageJob.remove(i.stageId)).map(_.longValue).getOrElse(-1L)
      spans.add(Span(ids.getAndIncrement(), parent, "stage", s"stage ${i.stageId}",
        i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble,
        Map("tasks" -> i.numTasks)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def plan(qe: QueryExecution): Unit =
      doubles("spark.plan_s").add(qe.tracker.phases.values.map(_.durationMs).sum / 1000.0)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      longs("streaming.batches").incrementAndGet()
      doubles("streaming.add_batch_s").add(d.getOrElse("addBatch", 0L) / 1000.0)
      doubles("streaming.planning_s").add(d.getOrElse("queryPlanning", 0L) / 1000.0)
      doubles("streaming.commit_s").add(
        (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)) / 1000.0)
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Writes every span. Pipeline stages and SQL executions are placed
    * under the innermost harness span (pipeline stages included, for SQL)
    * that contains their midpoint or start. */
  def dump(path: String): Unit = {
    drain()
    val all = spans.asScala.toSeq
    val harness = all.filter(s => s.parent >= 0 && s.kind != "job" && s.kind != "stage")
    def innermost(at: Double, candidates: Seq[Span]): Long =
      candidates.filter(h => h.startMs <= at && at <= h.endMs)
        .sortBy(h => h.endMs - h.startMs).headOption.map(_.id).getOrElse(0L)
    val stages = all.filter(_.kind == "pipeline_stage").map(s =>
      s.copy(parent = innermost((s.startMs + s.endMs) / 2, harness)))
    val resolved = all.filter(_.kind != "pipeline_stage").map { s =>
      if (s.kind == "sql") s.copy(parent = innermost(s.startMs, harness ++ stages)) else s
    } ++ stages
    Json.write(path, Map("trace_id" -> traceId, "spans" -> resolved.sortBy(_.startMs).map { s =>
      Map("trace_id" -> traceId, "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs)
    }))
  }
}

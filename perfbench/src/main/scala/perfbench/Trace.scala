package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sinks.CheckpointSink

/** Delegating sink that stamps each `save`: start and end in nanoseconds.
  * Both modes use it — the end stamps are the commit times the
  * end-to-end latency comes from; the traced run also reads the starts.
  */
final class ClockedSink(inner: CheckpointSink) extends CheckpointSink {
  private val spans = mutable.ArrayBuffer[(Long, Long)]()

  private val wallSpans = mutable.ArrayBuffer[(Long, Long)]()

  override def save(ops: DataFrame, seq: Long): Unit = {
    val (w0, t0) = (System.currentTimeMillis(), System.nanoTime())
    inner.save(ops, seq)
    val t1 = System.nanoTime()
    spans.synchronized { spans += ((t0, t1)); wallSpans += ((w0, System.currentTimeMillis())) }
  }
  override def lastSequence: Option[Long] = inner.lastSequence
  override def selfTest(): Unit = inner.selfTest()

  def saves: Vector[(Long, Long)] = spans.synchronized(spans.toVector)
  /** The same spans in wall-clock milliseconds, the clock of Spark's events. */
  def savesWallMs: Vector[(Long, Long)] = spans.synchronized(wallSpans.toVector)
}

/** What the traced run hears from Spark, attributed to program modules.
  *
  * A job started inside a sink `save` belongs to `sinks`; any other job
  * goes to the module of its call site ([[Stats.module]]) — the result
  * stage's name, e.g. "collect at ArchiveStream.scala:263". Inside a
  * streaming query every job carries the query's start site, so the
  * time test is what separates the sink's jobs there. Tasks go to the
  * module of their job. Query planning phases, file-scan metrics and the
  * rows Extract's op explode emits come from a `QueryExecutionListener`,
  * micro-batch phase durations from a `StreamingQueryListener`. Install
  * with [[Tracer.on]], read after [[Tracer.off]] (which drains Spark's
  * listener bus first).
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  final case class Job(site: String, start: Long, var end: Long)
  final class Tasks { var n, runMs, deserMs, gcMs, bytesRead = 0L }

  private val jobs = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val jobTasks = mutable.Map[Int, Tasks]()
  private var saveSpans: Seq[(Long, Long)] = Nil
  var planMs, scannedRows, scannedFiles = 0L
  val streamMs: mutable.Map[String, Long] = mutable.Map[String, Long]().withDefaultValue(0L)
  var batches = 0
  /** `numOutputRows` of each op explode seen, once per plan node: the
    * sink's emptiness check and its write read the same cached plan.
    */
  private val explodes =
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SQLMetric, java.lang.Boolean])

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = Job(site, e.time, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = jobTasks.getOrElseUpdate(stageJob.getOrElse(e.stageId, -1), new Tasks)
    t.n += 1
    Option(e.taskMetrics).foreach { m =>
      t.runMs += m.executorRunTime
      t.deserMs += m.executorDeserializeTime
      t.gcMs += m.jvmGCTime
      t.bytesRead += m.inputMetrics.bytesRead
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    planMs += Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    Plans.collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }.foreach { s =>
      scannedRows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      scannedFiles += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }
    opExplode(qe.executedPlan).flatMap(_.metrics.get("numOutputRows")).foreach(explodes.add)
  }

  /** The plan's top-most Generate, looking through cached relations:
    * in Extract's plan that is the op explode, above the tx and result
    * explodes.
    */
  private def opExplode(p: SparkPlan): Option[GenerateExec] =
    Plans.collectWithSubqueries(p) {
      case g: GenerateExec => Some(g)
      case s: InMemoryTableScanExec => opExplode(s.relation.cachedPlan)
    }.flatten.headOption

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Tracer.this.synchronized {
      val d = e.progress.durationMs
      if (d.containsKey("addBatch")) batches += 1
      d.forEach((k, v) => streamMs(k) += v.longValue)
    }
  }

  def on(spark: SparkSession): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
    this
  }

  def off(spark: SparkSession): this.type = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
    this
  }

  /** Wall-clock spans of the sink saves the window made. */
  def attributeSaves(spans: Seq[(Long, Long)]): Unit = synchronized { saveSpans = spans }

  def moduleOf(j: Job): String =
    if (saveSpans.exists { case (a, b) => j.start >= a && j.start <= b }) "sinks"
    else Stats.module(j.site)

  def jobCount(module: String): Int = synchronized(jobs.values.count(moduleOf(_) == module))
  def jobCount: Int = synchronized(jobs.size)
  /** Rows out of the op explodes of every query the window ran. */
  def explodedRows: Long = synchronized {
    var n = 0L; explodes.forEach(m => n += m.value); n
  }
  def jobIntervals: Seq[(Long, Long)] = synchronized(jobs.values.map(j => (j.start, j.end)).toVector)
  def taskTotal(f: Tasks => Long): Long = synchronized(jobTasks.values.map(f).sum)
  def tasksOf(module: String): Long = synchronized(jobs.collect {
    case (id, j) if moduleOf(j) == module => jobTasks.get(id).map(_.n).getOrElse(0L) }.sum)

  /** Jobs per (call site, module), for the log. */
  def sites: Seq[(String, Int)] = synchronized(
    jobs.values.groupBy(j => s"${j.site} -> ${moduleOf(j)}").map { case (k, v) => k -> v.size }
      .toSeq.sortBy(-_._2))
}

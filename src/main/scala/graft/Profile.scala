package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionStart => SqlStart}

/** Optimization-round measurement tool (guide §1): runs the named
  * queries once warm under the bench's exact session config and prints
  * wall time per SQL EXECUTION (action) with its call site and job
  * count, so time inside a multi-action query (store builds, planning
  * collects, commit writes) can be attributed to the line that spent it
  * — the Spark-UI SQL tab for a UI-less session. Under AQE every
  * exchange materializes as its own job, so per-job call sites are
  * opaque; per-execution is the actionable granularity. Measurement
  * only; never run by the driver.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    Bench.warmUp(spark, sfDir)

    // executionId → (description, first job start ms, last job end ms, jobs)
    final class ExecRec(val desc: String) {
      @volatile var t0 = Long.MaxValue
      @volatile var t1 = Long.MinValue
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    }
    val execs = new java.util.concurrent.ConcurrentHashMap[Long, ExecRec]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SqlStart =>
          // only root executions (AQE re-plans nest under the root id)
          execs.putIfAbsent(s.executionId, new ExecRec(s.description)); ()
        case _ => ()
      }
      private def execOf(p: java.util.Properties): Option[ExecRec] =
        Option(p).flatMap(q => Option(q.getProperty("spark.sql.execution.root.id"))
          .orElse(Option(q.getProperty("spark.sql.execution.id"))))
          .flatMap(id => Option(execs.get(id.toLong)))
      private val jobExec = new java.util.concurrent.ConcurrentHashMap[Int, ExecRec]()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        execOf(e.properties).foreach { r =>
          jobExec.put(e.jobId, r)
          r.jobs.incrementAndGet()
          r.t0 = math.min(r.t0, e.time); r.t1 = math.max(r.t1, e.time)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobExec.get(e.jobId)).foreach(r => r.t1 = math.max(r.t1, e.time))
    }

    for (name <- args) {
      val fn = SparkEntry.queries(name)
      // warm run: JIT, codegen, footer caches — profile the steady state
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      // three timed runs for a median wall; exec detail from the last
      val walls = (1 to 3).map { _ =>
        execs.clear()
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val w = (System.nanoTime() - t0) / 1e9
        Thread.sleep(800) // async listener bus settle
        spark.sparkContext.removeSparkListener(listener)
        w
      }
      val wall = walls.sorted.apply(1)
      import scala.jdk.CollectionConverters._
      val recs = execs.asScala.toSeq.sortBy(_._1)
      val totJobs = recs.map(_._2.jobs.get).sum
      println(f"\n===== $name wall=$wall%.3f s (runs ${walls.map(w => f"$w%.3f").mkString("/")}), execs=${recs.size}, jobs=$totJobs =====")
      recs.foreach { case (id, r) =>
        val sec = if (r.t1 >= r.t0) (r.t1 - r.t0) / 1e3 else 0.0
        println(f"  exec $id%4d  $sec%7.3f s  jobs=${r.jobs.get}%-3d ${r.desc.take(90)}")
      }
      // executed-plan node census of the final frame: how many scans /
      // exchanges actually ran vs were reused (AQE hides reuse from the
      // static plan)
      if (sys.env.get("SPARK_GRAFT_PROFILE_PLAN").contains("1")) {
        // capture the POST-execution adaptive plan (reused stages are
        // only visible there) via a QueryExecutionListener
        val qes = new java.util.concurrent.ConcurrentLinkedQueue[
          org.apache.spark.sql.execution.QueryExecution]()
        val ql = new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(fn: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              d: Long): Unit = { qes.add(qe); () }
          override def onFailure(fn: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              e: Exception): Unit = ()
        }
        spark.listenerManager.register(ql)
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Thread.sleep(1000)
          import org.apache.spark.sql.execution.SparkPlan
          import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
          def walk(p: SparkPlan): Seq[String] = (p match {
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
            case q: QueryStageExec => q.nodeName +: walk(q.plan)
            case other => other.nodeName +: (other.children ++ other.subqueries).flatMap(walk)
          })
          import scala.jdk.CollectionConverters._
          qes.asScala.lastOption.foreach { qe =>
            val census = walk(qe.executedPlan)
              .groupBy(identity).view.mapValues(_.size).toSeq.sortBy(-_._2)
            println("  -- executed plan node census (final adaptive) --")
            census.foreach { case (n, c) => println(f"  $c%4d  $n") }
          }
        } finally spark.listenerManager.unregister(ql)
      }
    }
    spark.stop()
  }
}

package graft

/** Optimization-round measurement tool (guide §1): runs the named
  * queries once warm under the bench's session ([[Bench.session]]), then
  * three timed runs for a median wall. For the last run it prints each
  * root SQL execution (action) with its wall from submission to
  * completion, its job count and its call site, as Spark's status store
  * recorded them ([[Bench.captureExecutions]]), so time inside a
  * multi-action query (store builds, planning collects, commit writes)
  * can be attributed to the line that spent it — the Spark-UI SQL tab
  * for a UI-less session. Under AQE every exchange materializes as its
  * own job, so per-job call sites are opaque; per-execution is the
  * actionable granularity. Then the node census of the last run's final
  * adaptive plan: how many scans / exchanges actually ran vs were reused
  * (AQE hides reuse from the static plan). Measurement only; never run
  * by the driver.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    Bench.warmUp(spark, sfDir)
    for (name <- args) {
      val fn = SparkEntry.queries(name)
      def run(): Unit = fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      run() // warm run: JIT, codegen, footer caches — profile the steady state
      val runs = (1 to 3).map { _ =>
        Bench.captureExecutions(spark) {
          val t0 = System.nanoTime()
          run()
          (System.nanoTime() - t0) / 1e9
        }
      }
      val walls = runs.map(_.result)
      val last = runs.last
      println(f"\n===== $name wall=${walls.sorted.apply(1)}%.3f s " +
        f"(runs ${walls.map(w => f"$w%.3f").mkString("/")}), " +
        f"execs=${last.executions.size}, jobs=${last.executions.map(_.jobs).sum} =====")
      last.executions.foreach { e =>
        println(f"  exec ${e.id}%4d  ${e.wallSec}%7.3f s  jobs=${e.jobs}%-3d ${e.description.take(90)}")
      }
      println("  -- executed plan node census (final adaptive) --")
      last.plans.lastOption.toSeq.flatMap(qe => Bench.planNodes(qe.executedPlan))
        .groupBy(_.nodeName).view.mapValues(_.size).toSeq.sortBy(-_._2)
        .foreach { case (n, c) => println(f"  $c%4d  $n") }
    }
    spark.stop()
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Sensitivity pins for the growth-curve regression gate (r16 verdict
  * #3). The per-query gate's sensitivity was demonstrated end-to-end
  * with SPARK_GRAFT_PERTURB (PLANS.md); the growth gate's fixture — the
  * 64×-grown store — exists only mid-bench, so its fire conditions are
  * extracted pure ([[Bench.growthTimeOver]]/[[Bench.growthCountOver]])
  * and pinned here against the REAL historical readings: the r16 driver
  * outlier must fire, every calm historical reading must not.
  */
class BenchGateSpec extends AnyFunSuite {
  // term_sec_at_64x recording: 1.02 s from the round-17 0.049-floor
  // calm session (the adjudication session, PLANS.md)
  private val rec = 1.02
  private val recFloor = 0.049

  test("the r16 driver's term_sec_at_64x outlier (5.235 @ floor 0.082) fires") {
    assert(Bench.growthTimeOver(5.235, rec, recFloor, sessionFloor = 0.082),
      "the exact reading that motivated this gate must trip it")
  }

  test("calm historical term_sec_at_64x readings do not fire") {
    // prior-session 1.244 @ 0.069, recording session's own 1.02 @ 0.049
    assert(!Bench.growthTimeOver(1.244, rec, recFloor, sessionFloor = 0.069))
    assert(!Bench.growthTimeOver(1.020, rec, recFloor, sessionFloor = 0.049))
  }

  test("floor scaling absorbs a uniformly slow VM; materiality absorbs sub-second doubling") {
    // a 2.3x raw reading in a 6x-floor wave session stays under the
    // scaled threshold — the gate measures the plan, not the VM
    assert(!Bench.growthTimeOver(2.35, rec, recFloor, sessionFloor = 0.30))
    // a 9x blowup of a 0.1 s field moves less than the 1 s materiality
    // bound — scheduling noise at that magnitude, never a store scan
    assert(!Bench.growthTimeOver(0.9, 0.1, recFloor, sessionFloor = recFloor))
    // crashed measurements (-1 sentinel) never fire
    assert(!Bench.growthTimeOver(-1.0, rec, recFloor, sessionFloor = recFloor))
  }

  test("intake_rows_* gates ride the same count predicate: deterministic drain I/O, floor-blind") {
    // r17 verdict #5: the drain's wall rate has a 2.4x honest session
    // spread (23.8-57.4 docs/s) — under a 2x gate it can neither fire
    // nor reassure; the scan-row totals are deterministic for the
    // fixed slice/batch split, so THEY carry the gate and wall time is
    // color. Same predicate as maxscore_rows (raw 2x + >1000 rows).
    val storeRec = 6958.0 // the r18 sf0.1 recording
    // a probe-pruning regression reads the store side wholesale —
    // a multiplied total fires
    assert(Bench.growthCountOver(3 * storeRec, storeRec))
    // session noise cannot move a row count; identical re-reads and
    // small drifts (a batch-boundary shift) stay quiet
    assert(!Bench.growthCountOver(storeRec, storeRec))
    assert(!Bench.growthCountOver(storeRec + 999.0, storeRec))
    // a crashed drain (-1 sentinel) never fires the gate — it lands in
    // `errors` instead
    assert(!Bench.growthCountOver(-1.0, storeRec))
  }

  test("maxscore_rows gates raw 2x + 1000-row materiality, floor-blind") {
    val rowsRec = 2439.0
    // a pruning regression reads ~the naive postings denominator
    // (73.7k at 64x) — fires unconditionally
    assert(Bench.growthCountOver(73674.0, rowsRec))
    // candidate-set drift under 2x does not
    assert(!Bench.growthCountOver(4000.0, rowsRec))
    // 2x of a tiny count is not material in rows
    assert(!Bench.growthCountOver(900.0, 400.0))
    assert(!Bench.growthCountOver(-1.0, rowsRec))
  }

  test("captureExecutions returns only the body's executions, with plans, jobs and walls") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.functions.col
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-capture").toString
    spark.range(100).write.mode("overwrite").parquet(dir)
    // an aggregate, so AQE wraps the plan and the scan sits under a stage
    def read() = spark.read.parquet(dir).groupBy(col("id") % 3).count()
    val before = read()
    before.collect()
    val body = read()
    val cap = Bench.captureExecutions(spark)(body.collect().length)
    assert(cap.result === 3)
    // the write and the earlier read finished before the capture
    assert(!cap.plans.exists(_ eq before.queryExecution))
    assert(cap.plans.exists(_ eq body.queryExecution))
    assert(cap.executions.size === 1, cap.executions)
    val e = cap.executions.head
    assert(e.jobs >= 1 && e.wallSec > 0, e)
    val plan = body.queryExecution.executedPlan
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec])
    val nodes = Bench.planNodes(plan)
    assert(nodes.exists(_.isInstanceOf[QueryStageExec]))
    assert(nodes.collect { case f: FileSourceScanExec => f }
      .exists(_.relation.location.rootPaths.exists(_.toUri.getPath == dir)))
  }
}

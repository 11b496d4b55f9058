package graft

import org.apache.spark.sql.SparkSession
import graft.sinks.JdbcSink

/** Container entrypoint: the reference image's CMD chains database
  * bootstrap → storage bootstrap → polling collector in one process
  * (python/Dockerfile:28, `build_database && build_s3_storage && main`);
  * this main is that chain on Spark, driven by the same compose
  * environment surface [[Deploy]] parses.
  *
  *  - build_database parity: when the env selects the Postgres sink,
  *    seed its DDL idempotently (`ensureSchema`, K7) before any ingest;
  *  - build_s3_storage parity: [[graft.streaming.ArchiveTail]]'s
  *    constructor runs the sink's read/write/delete self-test (K6), so
  *    a misconfigured bucket aborts startup exactly like the
  *    reference's adapter dry-run;
  *  - main parity: the polling tail backfills from the recovered
  *    offset, then follows the archive at the reference's cadence.
  *
  * Cluster config (master, executors, s3a credentials) arrives via
  * spark-submit and wins over [[Engine.session]]'s defaults, so the
  * deployed collector runs the session every gate and benchmark runs.
  * `POLL_ROUNDS` bounds the loop for smoke tests; unset means run until
  * the retry budget exhausts, like the reference's infinite poll loop.
  */
object Collector {

  /** The whole chain as a pure function of (session, env) — `main` is a
    * thin wrapper so specs can drive the same code with a literal map.
    * Returns the number of checkpoints ingested.
    */
  def run(spark: SparkSession, env: Map[String, String]): Int = {
    val sink = Deploy.sink(env)
    sink match {
      case j: JdbcSink => j.ensureSchema() // build_database parity
      case _ => () // file-layout sink: no DDL; the selfTest probe covers it
    }
    // ONE sink instance flows through the whole chain (a stateful sink —
    // pooled connections, buffered side files — must not bootstrap on one
    // object and ingest through another)
    val tail = Deploy.tail(spark, env, Some(sink)) // ctor runs selfTest
    // empty string = unset, compose convention (same .filter as Deploy's
    // optional vars); absent/empty means the reference's infinite loop
    val rounds = env.get("POLL_ROUNDS").filter(_.nonEmpty).map(_.toInt)
      .getOrElse(Int.MaxValue)
    tail.run(rounds)
  }

  def main(args: Array[String]): Unit = {
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sys.env) finally spark.stop()
  }
}

package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.Engine
import graft.pipeline.ExtractConfig
import graft.sinks.CheckpointSink
import graft.sources.Archive

/** The reference's ingest loop (python/main.py:231-309) on Spark: strictly
  * ordered checkpoint-at-a-time processing with atomic data+offset commit
  * and bounded polling retry.
  *
  * Semantics preserved: resume from `lastfile`+64 (:246-249); one archive
  * triple per iteration (:254-283); a missing file blocks the tail
  * (poll + retry, :88-105); the sink's `save(df, seq)` is the atomic
  * commit (K2/K4).
  *
  * Scale: [[commit]] reads a triple through `Engine.extract` — one task
  * opens, gunzips, decodes and joins the three files on an executor —
  * so a checkpoint costs one Spark job, the sink's own. The session's
  * Hadoop conf is resolved once, when the tail is built: its
  * driver-side probes use it, and its tasks read through one broadcast
  * of it. [[commit]] is also the step the Structured Streaming runners
  * ([[graft.sources.ArchiveStreamRunner]]) call for each sequence their
  * source offers. The tail itself is inherently sequential because the
  * reference's offset contract (one `lastfile` pointer) is.
  */
final class ArchiveTail(
    spark: SparkSession,
    root: String,
    passphrase: String,
    cfg: ExtractConfig,
    sink: CheckpointSink,
    firstSeq: Long = 0x3fL,
    maxRetries: Int = 5,
    pollMillis: Long = 180000L,
    sleeper: Long => Unit = Thread.sleep,
    alerts: IngestAlerts = IngestAlerts.Noop) {

  // a non-checkpoint start would poll for files that never exist
  require(Archive.isCheckpoint(firstSeq), s"firstSeq $firstSeq must satisfy (seq+1)%64==0")

  // Startup probe (K6): a misconfigured sink must fail here, before any
  // ingest work — the reference runs the same dry-run at adapter init
  // (python/adapters/s3_storage_adapter.py:169-192).
  sink.selfTest()

  private val fs = Engine.fileSystem(spark, new Path(root))
  private val hadoopConf = Engine.hadoopConf(spark)

  /** Next sequence to process (offset recovery, S5). `lastfile ==
    * firstSeq` resumes AT firstSeq, not past it — the reference's
    * build_database seeds lastfile with FIRST_FILE meaning "not yet
    * ingested" (main.py:247 only advances when they differ), so a
    * bootstrap-seeded deployment must ingest its first checkpoint
    * rather than silently skip the first 64 ledgers. The sinks make
    * the re-visit exactly-once: the JDBC saves overwrite this batch's
    * row identities when lastfile == seq, and the file sink's
    * partition overwrite is idempotent — so the one genuinely-
    * ambiguous restart (crash right after ingesting firstSeq) re-lands
    * identical data instead of duplicating it (the reference itself
    * double-inserts in that window).
    */
  def resumeSeq: Long = sink.lastSequence match {
    case Some(l) if l == firstSeq && firstSeqSeeded => firstSeq
    case Some(l) => Archive.nextSeq(l)
    case None => firstSeq
  }

  // STARTUP-ONLY reading of the seeded pointer (the reference checks
  // lastfile == FIRST_FILE once, before its loop — main.py:246-249):
  // cleared after the first successful commit, so once firstSeq is
  // genuinely ingested the tail advances past it instead of
  // re-resolving the ambiguous pointer every poll round
  @volatile private var firstSeqSeeded: Boolean =
    sink.lastSequence.contains(firstSeq)

  /** Process exactly one checkpoint if its triple is present. */
  def processOne(seq: Long): Boolean = {
    if (!Archive.available(fs, root, seq)) return false
    commit(seq)
    true
  }

  /** Extract checkpoint `seq` and commit it through the sink: the one
    * commit step of every ingest runner. A triple file that is missing
    * fails the sink's job, and nothing is committed.
    */
  def commit(seq: Long): Unit = {
    val ops = Engine.extract(spark, Seq(Archive.triple(root, seq)), hadoopConf, passphrase, cfg)
    sink.save(ops, seq)
    firstSeqSeeded = false // the pointer now reflects a real commit
  }

  /** Drain every currently available checkpoint in order; returns how many
    * were committed (Trigger.AvailableNow analogue).
    */
  def runOnce(): Int = {
    var n = 0
    var seq = resumeSeq
    while (processOne(seq)) { n += 1; seq = Archive.nextSeq(seq) }
    n
  }

  /** Tail with the reference's bounded retry: on a missing checkpoint,
    * sleep `pollMillis` and retry up to `maxRetries` times before giving
    * up (python/main.py:88-105, 295-309). `maxIterations` bounds the loop
    * for tests; pass Int.MaxValue for a real tail.
    *
    * Alert contract (python/main.py:286-309): `alerts.onDelay` fires on
    * the FIRST miss of a delay episode only; `alerts.onGiveUp` fires once
    * when retries exhaust, just before the tail stops. Alert transport
    * failures are logged and swallowed — alerting must never kill ingest.
    */
  def run(maxIterations: Int): Int = {
    def alert(f: => Unit): Unit =
      try f catch {
        case e: Exception =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"ingest alert callback failed: ${e.getMessage}")
      }
    var n = 0
    var retries = 0
    var iter = 0
    while (iter < maxIterations && retries <= maxRetries) {
      iter += 1
      if (processOne(resumeSeq)) { n += 1; retries = 0 }
      else {
        if (retries == 0) alert(alerts.onDelay(resumeSeq))
        retries += 1
        if (retries <= maxRetries) sleeper(pollMillis)
        else alert(alerts.onGiveUp(resumeSeq, retries))
      }
    }
    n
  }
}

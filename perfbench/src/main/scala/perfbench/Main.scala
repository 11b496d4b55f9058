package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.Engine
import graft.pipeline.Serve
import graft.serve.HttpServe
import graft.sinks.PartitionedFileSink
import graft.sources.{Archive, ArchiveStreamRunner}
import graft.xdr.Stellar

/** The ingest-and-serve benchmark: one workload per invocation.
  *
  * {{{
  *   perfbench.Main --workload <stream_backfill|collect_catchup|serve>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  * }}}
  *
  * Writes one JSON object to `--out` (run.py prints it as the last line of
  * standard output). With `--trace 1` the window is run twice, untraced
  * then traced, and the per-layer metrics come from the traced one.
  */
object Main {

  /** Light checkpoints: dispatch-bound streaming backfill. A backfill
    * drains all of them in one micro-batch, whose per-seq jobs each scan
    * every cached checkpoint of the batch, so the count sets that fan-out.
    */
  val StreamSpec = GenSpec(checkpoints = 12, opsPerCk = 512)
  /** Heavy checkpoints (~10x the ops): the collector's one-job-chain loop. */
  val CollectSpec = GenSpec(checkpoints = 3, opsPerCk = 5120)
  /** Sequence blocks an ingest run may use before it cycles back to the
    * first (far more than a window needs at today's speed).
    */
  val Blocks = 16
  /** A window lasts at least `--seconds` and until it holds this many
    * samples: requests on serve (so that ten lie beyond the 90th
    * percentile), checkpoint commits on ingest (whole backfills, so the
    * count of backfills does not flip with the speed of a run).
    */
  val MinRequests = 100
  val MinCommits = 8
  /** Requests each serve set-up sends through the full path to warm it. */
  val WarmRequests = 20
  val SetupReps = 3
  val ServeLimit = 20

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      Paths.get(m("work")), Paths.get(m("out")))
  }

  /** Outcome of one measured window. */
  final case class Window(
      wallS: Double, units: Long, latMs: Vector[Double], outBytes: Long, outRows: Long,
      attempted: Long, failed: Long, problems: Vector[String],
      saves: Vector[(Long, Long)] = Vector.empty, savesWallMs: Vector[(Long, Long)] = Vector.empty,
      sinkFiles: Long = 0L) {
    def perS: Double = units / wallS
  }

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val result = run(args)
    Files.createDirectories(args.out.getParent)
    Files.write(args.out, result.getBytes(UTF_8))
  }

  def session(): SparkSession = Engine.session(s"local[${Runtime.getRuntime.availableProcessors}]")

  def run(args: Args): String = {
    Files.createDirectories(args.work)
    val wl: Workload = args.workload match {
      case "stream_backfill" => new Ingest(args, streaming = true)
      case "collect_catchup" => new Ingest(args, streaming = false)
      case "serve" => new ServeLoad(args)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    wl.prepare()
    // set-up, several times: session build + warm-up (+ layout load and
    // server start on serve); the last one stays up for the windows
    val sessionMs, warmMs, setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    (1 to SetupReps).foreach { rep =>
      if (spark != null) { wl.teardown(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session()
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      val excluded = if (rep == 1) wl.firstSession(spark) else 0L
      val t2 = System.nanoTime()
      wl.setup(spark)
      val t3 = System.nanoTime()
      sessionMs += (t1 - t0) / 1e6
      warmMs += (t3 - t2) / 1e6
      setupS += (t3 - t0 - excluded) / 1e9
      log(f"set-up $rep: ${setupS.last}%.3f s (session ${sessionMs.last}%.0f ms, warm-up ${warmMs.last}%.0f ms)")
    }
    val untraced = wl.window(spark)
    log(f"window: ${untraced.perS}%.2f /s over ${untraced.wallS}%.2f s, ${untraced.latMs.size} samples")
    // traced: a traced window between two untraced ones, so the warm-up
    // the process still gains cancels out of the overhead estimate
    val traced = if (!args.trace) None else {
      val tr = new Tracer().on(spark)
      val w = try wl.window(spark) finally tr.off(spark)
      log(f"traced window: ${w.perS}%.2f /s over ${w.wallS}%.2f s")
      val ls = wl.layers(spark, w, tr)
      tr.sites.foreach { case (c, n) => log(s"  $n jobs at $c") }
      val after = wl.window(spark)
      log(f"second untraced window: ${after.perS}%.2f /s over ${after.wallS}%.2f s")
      Some((w, after, ls))
    }
    wl.teardown()
    spark.stop()
    val windows = untraced +: traced.toSeq.flatMap { case (w, after, _) => Seq(w, after) }
    val attempted = windows.map(_.attempted).sum + wl.setupAttempted
    val failed = windows.map(_.failed).sum + wl.setupFailed
    (windows.flatMap(_.problems) ++ wl.setupProblems).take(20).foreach(p => log(s"CHECK FAILED: $p"))
    val e2e = Seq(
      "setup_s" -> (Stats.median(setupS.toSeq), "s"),
      "throughput_per_s" -> (untraced.perS, "1/s"),
      "latency_p50_ms" -> (Stats.percentile(untraced.latMs, 50), "ms"),
      "latency_p90_ms" -> (Stats.percentile(untraced.latMs, 90), "ms"),
      "out_bytes_per_row" -> (Stats.ratio(untraced.outBytes, untraced.outRows), "B/row"))
    val metrics = traced match {
      case None => e2e
      case Some((w, after, ls)) =>
        val all = (ls ++ Seq(
          "engine.session_ms" -> Stats.median(sessionMs.toSeq),
          "engine.warmup_ms" -> Stats.median(warmMs.toSeq),
          "e2e.samples" -> untraced.latMs.size.toDouble,
          "check.fail_ratio" -> Stats.ratio(failed, attempted),
          "trace.overhead_pct" -> 100.0 * ((untraced.perS + after.perS) / 2 / w.perS - 1))).toMap
        PerLayer.names.map { case (n, u) => n -> (all.getOrElse(n, 0.0), u) }
    }
    Json.result(failed == 0, attempted, failed, metrics)
  }
}

/** The measured part of one workload. */
trait Workload {
  /** Generate inputs (not timed). */
  def prepare(): Unit
  /** Work done once in the first session that set-up time must exclude
    * (building the served layout); returns its nanoseconds.
    */
  def firstSession(spark: SparkSession): Long = 0L
  def setup(spark: SparkSession): Unit
  def window(spark: SparkSession): Main.Window
  def layers(spark: SparkSession, w: Main.Window, tr: Tracer): Seq[(String, Double)]
  def teardown(): Unit = ()
  var setupAttempted, setupFailed = 0L
  val setupProblems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer[String]()

  /** Count a set-up backfill's output checks with the run's. */
  def checked(w: Main.Window): Unit = {
    setupAttempted += w.attempted; setupFailed += w.failed
    setupProblems ++= w.problems.map("set-up " + _)
  }
}

/** Replays of the decode path, single-threaded, outside Spark: the
  * reference-style one-thread floor of gunzip and of XDR decode.
  */
object Replay {
  final case class Cost(gunzipMs: Double, decodeMs: Double, txs: Long, ops: Long)

  def perCheckpoint(arch: GenArchive): Cost = {
    val files = arch.seqs.map(s => Seq("transactions", "ledger", "results")
      .map(c => Files.readAllBytes(Gen.path(arch.root, c, s))))
    val runs = (1 to 3).map { _ =>
      var gz, dec = 0L; var txs, ops = 0L
      files.foreach { case Seq(t, l, r) =>
        val t0 = System.nanoTime()
        val (tu, lu, ru) = (Archive.gunzip(t), Archive.gunzip(l), Archive.gunzip(r))
        val t1 = System.nanoTime()
        val tx = Stellar.decodeTxEntries(tu, Gen.Passphrase)
        Stellar.decodeLedgerEntries(lu); Stellar.decodeResultEntries(ru)
        val t2 = System.nanoTime()
        gz += t1 - t0; dec += t2 - t1
        txs += tx.map(_.txSet.txs.size).sum
        ops += tx.flatMap(_.txSet.txs).map(_.tx.operations.size).sum
      }
      Cost(gz / 1e6 / files.size, dec / 1e6 / files.size, txs / files.size, ops / files.size)
    }
    runs.sortBy(c => c.gunzipMs + c.decodeMs).apply(1) // the median of three
  }
}

/** Per-layer metrics shared by both ingest paths (and by serve's layout
  * build): counts per checkpoint, sink timing, executor time.
  */
object IngestLayers {
  def apply(arch: GenArchive, w: Main.Window, tr: Tracer, cores: Int): Seq[(String, Double)] = {
    tr.attributeSaves(w.savesWallMs)
    val cks = math.max(1L, w.attempted).toDouble
    val saveMs = w.saves.map { case (a, b) => (b - a) / 1e6 }
    // per-checkpoint loop time: from the previous commit (or the window
    // start) to this checkpoint's commit
    val stepMs = w.latMs
    val nonSave = stepMs.zip(saveMs).map { case (s, v) => s - v }
    val replay = Replay.perCheckpoint(arch)
    val rowsPerCk = Stats.ratio(w.outRows, cks)
    Seq(
      "sources.jobs_per_ck" -> tr.jobCount("sources") / cks,
      "sources.tasks_per_ck" -> tr.tasksOf("sources") / cks,
      "sources.bytes_read" -> tr.taskTotal(_.bytesRead) / cks,
      "sources.gunzip_ms_per_ck" -> replay.gunzipMs,
      "stream.batches" -> tr.batches.toDouble,
      "stream.latest_offset_ms" -> tr.streamMs("latestOffset") / cks,
      "stream.query_planning_ms" -> tr.streamMs("queryPlanning") / cks,
      "stream.add_batch_ms" -> tr.streamMs("addBatch") / cks,
      "stream.wal_commit_ms" -> tr.streamMs("walCommit") / cks,
      "xdr.decode_ms_per_ck" -> replay.decodeMs,
      "xdr.txs_per_ck" -> replay.txs.toDouble,
      "xdr.ops_per_ck" -> replay.ops.toDouble,
      "pipeline.plan_ms" -> tr.planMs / cks,
      "pipeline.rows_out_per_ck" -> rowsPerCk,
      "pipeline.useful_row_ratio" -> Stats.ratio(w.outRows, tr.explodedRows),
      "pipeline.jobs_per_ck" -> tr.jobCount("pipeline") / cks,
      "sinks.save_ms_p50" -> Stats.median(saveMs),
      "sinks.save_share" -> Stats.ratio(saveMs.sum / 1e3, w.wallS),
      "sinks.jobs_per_ck" -> tr.jobCount("sinks") / cks,
      "sinks.files_per_ck" -> w.sinkFiles / cks,
      "sinks.bytes_per_ck" -> w.outBytes / cks,
      "streaming.process_one_ms_p50" -> Stats.median(stepMs),
      "streaming.non_save_ms_p50" -> Stats.median(nonSave)) ++
      ExecLayers(w, tr, cores, cks)
  }
}

object ExecLayers {
  /** Executor time per unit of work, and the wall time no job was running. */
  def apply(w: Main.Window, tr: Tracer, cores: Int, units: Double): Seq[(String, Double)] = {
    val wallMs = w.wallS * 1e3
    Seq(
      "exec.task_busy_ms" -> tr.taskTotal(_.runMs) / units,
      "exec.task_deser_ms" -> tr.taskTotal(_.deserMs) / units,
      "exec.task_gc_ms" -> tr.taskTotal(_.gcMs) / units,
      "exec.driver_gap_ms" -> (wallMs - Stats.unionLength(tr.jobIntervals)) / units,
      "exec.core_busy_ratio" -> Stats.ratio(tr.taskTotal(_.runMs), wallMs * cores))
  }
}

/** Accumulates full backfills into one window: commit intervals, save
  * spans, output checks and the size of what the sink wrote.
  */
final class IngestTally {
  private val lat = mutable.ArrayBuffer[Double]()
  private val saves, savesWall = mutable.ArrayBuffer[(Long, Long)]()
  private val problems = mutable.ArrayBuffer[String]()
  private var elapsed, ledgers, checkpoints, failed, rows, files, bytes = 0L

  def full(seconds: Double): Boolean = elapsed >= seconds * 1e9 && checkpoints >= Main.MinCommits

  def add(a: GenArchive, out: Path, sink: ClockedSink, t0: Long, t1: Long): Unit = {
    elapsed += t1 - t0
    saves ++= sink.saves; savesWall ++= sink.savesWallMs
    // one sample per checkpoint: from the previous commit (or the start
    // of the backfill) to this checkpoint's commit
    sink.saves.map(_._2).foldLeft(t0) { (prev, end) => lat += (end - prev) / 1e6; end }
    val got = Check.layoutRows(out)
    ledgers += a.ledgers; checkpoints += a.seqs.size; rows += got.valuesIterator.map(_.size).sum
    val bad = Check.ingest(out, a, got)
    Main.log(f"backfill of ${a.seqs.size} checkpoints: ${(t1 - t0) / 1e9}%.3f s")
    failed += bad.size
    problems ++= bad.map { case (q, p) => f"checkpoint $q%08x: $p" }
    val (n, b) = Check.du(out.resolve("ledgers"))
    files += n + Check.du(out.resolve("completed_ledgers"))._1; bytes += b
  }

  def window: Main.Window = Main.Window(elapsed / 1e9, ledgers, lat.toVector, bytes, rows,
    checkpoints, failed, problems.toVector, saves.toVector, savesWall.toVector, files)
}

/** Both ingest workloads: full backfills into fresh `PartitionedFileSink`
  * layouts, through either the streaming runner or the collector's tail
  * loop. Every backfill reads its own block of sequences, as a real
  * backfill never meets a checkpoint twice.
  */
final class Ingest(args: Main.Args, streaming: Boolean) extends Workload {
  private val spec = if (streaming) Main.StreamSpec else Main.CollectSpec
  private val archives = mutable.Map[Int, GenArchive]()
  private var warm: GenArchive = _
  private var round = 0

  /** Block `b`'s archive, generated on first use (outside any timing). */
  private def archive(b: Int): GenArchive = archives.getOrElseUpdate(b % Main.Blocks,
    Gen.write(args.work.resolve(s"archive-${b % Main.Blocks}"), spec.block(b % Main.Blocks), args.seed + b % Main.Blocks))

  override def prepare(): Unit = {
    warm = Gen.write(args.work.resolve("warm-archive"),
      spec.block(Main.Blocks).copy(checkpoints = 2, emptyAt = None), args.seed - 1)
    archive(0)
  }

  /** One full backfill of `a` into a fresh layout; returns the sink and timing. */
  private def backfill(spark: SparkSession, a: GenArchive): (Path, ClockedSink, Long, Long) = {
    round += 1
    val out = args.work.resolve(s"sink-$round")
    val sink = new ClockedSink(new PartitionedFileSink(out.toString))
    val t0 = System.nanoTime()
    if (streaming)
      ArchiveStreamRunner.runAvailableNow(spark, a.root.toString, Gen.Passphrase, Gen.config,
        sink, args.work.resolve(s"offsets-$round").toString, firstSeq = a.seqs.head)
    else
      Engine.collect(spark, a.root.toString, Gen.Passphrase, Gen.config, sink,
        firstSeq = a.seqs.head, tailIterations = 0)
    (out, sink, t0, System.nanoTime())
  }

  private def cleanup(out: Path): Unit = {
    Io.rmrf(out); Io.rmrf(args.work.resolve(s"offsets-$round"))
  }

  override def setup(spark: SparkSession): Unit = {
    val (out, sink, t0, t1) = backfill(spark, warm)
    val tally = new IngestTally
    tally.add(warm, out, sink, t0, t1)
    checked(tally.window)
    cleanup(out)
  }

  private var block = 0

  override def window(spark: SparkSession): Main.Window = {
    val tally = new IngestTally
    while (!tally.full(args.seconds)) {
      val a = archive(block)
      block += 1
      val (out, sink, t0, t1) = backfill(spark, a)
      tally.add(a, out, sink, t0, t1)
      cleanup(out)
    }
    tally.window
  }

  override def layers(spark: SparkSession, w: Main.Window, tr: Tracer): Seq[(String, Double)] =
    IngestLayers(archive(0), w, tr, Runtime.getRuntime.availableProcessors)
}

/** Closed-loop HTTP clients against `HttpServe` over the layout the
  * collector wrote from the heavy archive.
  */
final class ServeLoad(args: Main.Args) extends Workload {
  private var arch: GenArchive = _
  private var oracle: Check.ServeOracle = _
  private var requests: Vector[String] = _
  private var server: HttpServe = _
  private var payments: DataFrame = _
  private val layout = args.work.resolve("layout")
  private var buildLayers: Seq[(String, Double)] = Nil
  /** Closed-loop clients: two, so requests queue behind one another
    * (the server's concurrency shows) without a queue deep enough to
    * make the tail percentiles a measure of queue length.
    */
  private val clients = math.min(2, Runtime.getRuntime.availableProcessors)

  override def prepare(): Unit = {
    arch = Gen.write(args.work.resolve("archive"), Main.CollectSpec, args.seed)
    oracle = new Check.ServeOracle(arch.allRows)
    // 7 in 10 /payments by a Zipf-drawn source, 3 in 10 /tx (9 in 10 of
    // them a hit), in a fixed pattern: the seed picks sources and hashes,
    // never the mix, so a window's cost does not swing with the draw
    val r = new Random(args.seed ^ 0x5e7eL)
    val zipf = new Gen.Zipf(Main.CollectSpec.accounts - 2, 1.1)
    val hashes = oracle.hashes
    requests = Vector.tabulate(20000) { i =>
      if (i % 10 < 7)
        s"/payments?source=${Gen.strkey(Gen.key(2 + zipf.draw(r)))}&limit=${Main.ServeLimit}"
      else if (i % 30 != 29) s"/tx?id=${hashes(r.nextInt(hashes.size))}"
      else s"/tx?id=${Array.fill(32)(f"${r.nextInt(256)}%02x").mkString}"
    }
  }

  /** Build the layout once with the collector (excluded from set-up time). */
  override def firstSession(spark: SparkSession): Long = {
    val t0 = System.nanoTime()
    val tr = if (args.trace) Some(new Tracer().on(spark)) else None
    val sink = new ClockedSink(new PartitionedFileSink(layout.toString))
    val s0 = System.nanoTime()
    Engine.collect(spark, arch.root.toString, Gen.Passphrase, Gen.config, sink, tailIterations = 0)
    val tally = new IngestTally
    tally.add(arch, layout, sink, s0, System.nanoTime())
    val w = tally.window
    checked(w)
    // ingest layers from the layout build; exec is reported for serving
    tr.foreach(t => buildLayers = IngestLayers(arch, w, t.off(spark), Runtime.getRuntime.availableProcessors)
      .filterNot(_._1.startsWith("exec.")))
    System.nanoTime() - t0
  }

  override def setup(spark: SparkSession): Unit = {
    payments = ServeLoad.payments(spark, layout)
    server = new HttpServe(payments)
    server.start()
    // warm-up: requests through the full path, not the window's own
    requests.takeRight(Main.WarmRequests).foreach(get)
  }

  override def teardown(): Unit = if (server != null) { server.stop(); server = null }

  private def get(path: String): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:${server.boundPort}$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    try (code, new String(in.readAllBytes(), UTF_8)) finally in.close()
  }

  private def expected(path: String): Vector[String] = {
    val q = path.split("[?&=]")
    if (path.startsWith("/payments")) oracle.paymentsBySource(q(2), q(4).toInt)
    else oracle.txByHash(q(2))
  }

  private var next = 0

  override def window(spark: SparkSession): Main.Window = {
    val idx = new AtomicInteger(next)
    val done = mutable.ArrayBuffer[(String, Int, String, Double)]()
    val t0 = System.nanoTime()
    val deadline = t0 + (args.seconds * 1e9).toLong
    def more = System.nanoTime() < deadline || done.synchronized(done.size) < Main.MinRequests
    val threads = (1 to clients).map { _ =>
      val t = new Thread(() => {
        while (more) {
          val p = requests(idx.getAndIncrement() % requests.size)
          val s = System.nanoTime()
          val (code, body) = try get(p) catch { case e: Exception => (-1, e.toString) }
          val ms = (System.nanoTime() - s) / 1e6
          done.synchronized { done += ((p, code, body, ms)) }
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    next = idx.get()
    var bytes, rows = 0L
    val problems = done.flatMap { case (p, code, body, _) =>
      bytes += body.getBytes(UTF_8).length
      val got = Check.responseRows(body)
      rows += got.map(_.size).getOrElse(0)
      if (code != 200) Some(s"$p: HTTP $code")
      else if (!got.contains(expected(p))) Some(s"$p: rows differ from the oracle")
      else None
    }
    Main.Window(wall, done.size, done.map(_._4).toVector, bytes, rows, done.size, problems.size,
      problems.toVector)
  }

  override def layers(spark: SparkSession, w: Main.Window, tr: Tracer): Seq[(String, Double)] = {
    // the query alone: Serve.* straight to collect(), no HTTP or JSON
    val queryMs = requests.take(24).map { p =>
      val q = p.split("[?&=]")
      val df = if (p.startsWith("/payments")) Serve.paymentsBySource(payments, q(2), q(4).toInt)
               else Serve.txByHash(payments, q(2))
      val t0 = System.nanoTime(); df.collect(); (System.nanoTime() - t0) / 1e6
    }
    val reqs = math.max(1, w.units).toDouble
    val e2eP50 = Stats.median(w.latMs)
    buildLayers ++ Seq(
      "serve.query_ms_p50" -> Stats.median(queryMs),
      "serve.http_ms_p50" -> (e2eP50 - Stats.median(queryMs)),
      "serve.jobs_per_req" -> tr.jobCount / reqs,
      "serve.tasks_per_req" -> tr.taskTotal(_.n) / reqs,
      "serve.files_per_req" -> tr.scannedFiles / reqs,
      "serve.rows_scanned_per_req" -> tr.scannedRows / reqs,
      "serve.useful_row_ratio" -> Stats.ratio(w.outRows, tr.scannedRows)) ++
      ExecLayers(w, tr, Runtime.getRuntime.availableProcessors, reqs)
  }
}

object ServeLoad {
  /** The sink's 13-column CSV layout (the JDBC sinks' `operations` columns). */
  val Schema: StructType = StructType(Seq(
    "type" -> StringType, "source" -> StringType, "destination" -> StringType,
    "amount" -> DoubleType, "starting_balance" -> DoubleType, "memo_text" -> StringType,
    "fee" -> IntegerType, "fee_charged" -> IntegerType, "operation_index" -> IntegerType,
    "tx_status" -> StringType, "op_status" -> StringType, "hash" -> StringType,
    "time" -> TimestampType).map { case (n, t) => StructField(n, t) })

  /** What the server serves: the payments of the layout under `root`,
    * read as the reference's `payments` table.
    */
  def payments(spark: SparkSession, root: Path): DataFrame =
    spark.read.schema(Schema).csv(root.resolve("ledgers").toString)
      .filter(col("type") === "payment")
}

object Io {
  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

/** Per-layer metric names and units, in report order. */
object PerLayer {
  val names: Seq[(String, String)] = Seq(
    "sources.jobs_per_ck" -> "count", "sources.tasks_per_ck" -> "count",
    "sources.bytes_read" -> "B/ck", "sources.gunzip_ms_per_ck" -> "ms",
    "stream.batches" -> "count", "stream.latest_offset_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.add_batch_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "xdr.decode_ms_per_ck" -> "ms", "xdr.txs_per_ck" -> "count", "xdr.ops_per_ck" -> "count",
    "pipeline.plan_ms" -> "ms", "pipeline.rows_out_per_ck" -> "count",
    "pipeline.useful_row_ratio" -> "ratio", "pipeline.jobs_per_ck" -> "count",
    "sinks.save_ms_p50" -> "ms", "sinks.save_share" -> "ratio", "sinks.jobs_per_ck" -> "count",
    "sinks.files_per_ck" -> "count", "sinks.bytes_per_ck" -> "B",
    "streaming.process_one_ms_p50" -> "ms", "streaming.non_save_ms_p50" -> "ms",
    "serve.query_ms_p50" -> "ms", "serve.http_ms_p50" -> "ms", "serve.jobs_per_req" -> "count",
    "serve.tasks_per_req" -> "count", "serve.files_per_req" -> "count",
    "serve.rows_scanned_per_req" -> "count", "serve.useful_row_ratio" -> "ratio",
    "exec.task_busy_ms" -> "ms", "exec.task_deser_ms" -> "ms", "exec.task_gc_ms" -> "ms",
    "exec.driver_gap_ms" -> "ms", "exec.core_busy_ratio" -> "ratio",
    "engine.session_ms" -> "ms", "engine.warmup_ms" -> "ms",
    "e2e.samples" -> "count", "check.fail_ratio" -> "ratio", "trace.overhead_pct" -> "%")
}

object Json {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, (Double, String))]): String =
    metrics.map { case (n, (v, u)) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")
}

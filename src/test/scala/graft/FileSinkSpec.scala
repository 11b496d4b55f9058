package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.{TaskContext, TestBus}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.PartitionedFileSink
import FileTree.tree

/** The file sink's part-file writer against Spark's own `df.write.csv`,
  * and its crash contract: no marker without data, replays overwrite.
  */
class FileSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("memo", StringType), StructField("amount", DoubleType),
    StructField("time", TimestampType), StructField("fee", IntegerType)))

  private def ts(s: String) = Timestamp.from(Instant.parse(s))

  // awkward CSV values; the times straddle both 2021 DST changes of
  // America/Los_Angeles
  private val awkward = Seq(
    Row("plain", 1.0, ts("2021-03-14T09:59:59.123456Z"), 1),
    Row("say \"hi\"", 1e-7, ts("2021-03-14T10:00:00.5Z"), 2),
    Row("a,b,c", 1e9, ts("2021-11-07T08:59:59.999Z"), 3),
    Row("line one\nline two", -0.0, ts("2021-11-07T09:00:00.001Z"), 4),
    Row("ünïcødé ✓ 日本語", Double.NaN, ts("1969-12-31T23:59:59.9Z"), 5),
    Row(null, null, null, null),
    Row("", Double.NegativeInfinity, ts("2000-02-29T12:00:00Z"), -6),
    Row("'single' \\ back", 123456.789, ts("2021-06-01T00:00:00.000001Z"), 7))

  /** `rows` in one task partition per entry of `parts`, in order. */
  private def frame(parts: Seq[Seq[Row]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(parts, parts.size).flatMap(identity), schema)

  private def temp(prefix: String): Path = Files.createTempDirectory(prefix).resolve("out")

  /** Part-file name (UUID masked) → bytes under `dir`. */
  private def parts(dir: Path): Map[String, Seq[Byte]] =
    tree(dir).collect { case (k, (bytes, _)) if k.startsWith("part-") => k -> bytes }

  private def withZone[A](zone: String)(f: => A): A = {
    val before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try f finally spark.conf.set("spark.sql.session.timeZone", before)
  }

  test("part files are byte-identical to df.write.csv's, under two session time zones") {
    val byPartition = Seq(awkward.take(3), Nil, awkward.slice(3, 6), Nil, awkward.drop(6))
    for (zone <- Seq("UTC", "America/Los_Angeles")) withZone(zone) {
      val root = temp("graft-parity-sink")
      val oracle = temp("graft-parity-oracle")
      new PartitionedFileSink(root.toString).save(frame(byPartition), 0x3fL)
      frame(byPartition).write.mode("overwrite").option("header", "false").csv(oracle.toString)
      val dir = root.resolve("ledgers/ledger=0000003f")
      val got = parts(dir)
      // one file per non-empty task partition, named by its partition
      assert(got.keySet === Set(0, 2, 4).map(i => f"part-$i%05d-<uuid>-c000.csv"), zone)
      assert(got === parts(oracle), zone)
      assert(Files.exists(dir.resolve("_SUCCESS")))
      // all rows, with the awkward values intact
      val back = spark.read.schema(schema).option("multiLine", "true").csv(dir.toString)
      assert(back.count() === awkward.size)
      assert(back.where("memo = 'line one\nline two'").count() === 1)
    }
  }

  test("an empty first partition writes no file, where df.write.csv leaves an empty one") {
    val byPartition = Seq(Nil, awkward.take(2), Nil)
    val root = temp("graft-parity-empty0")
    val oracle = temp("graft-parity-empty0-oracle")
    new PartitionedFileSink(root.toString).save(frame(byPartition), 0x3fL)
    frame(byPartition).write.option("header", "false").csv(oracle.toString)
    val got = parts(root.resolve("ledgers/ledger=0000003f"))
    assert(got.keySet === Set("part-00001-<uuid>-c000.csv"))
    val expected = parts(oracle)
    assert(got === expected.filter(_._2.nonEmpty))
    assert(expected.filter(_._2.isEmpty).keySet === Set("part-00000-<uuid>-c000.csv"))
  }

  test("an all-empty frame commits its marker only, with no ledger= directory") {
    val root = temp("graft-empty-frame")
    val sink = new PartitionedFileSink(root.toString)
    sink.save(frame(Seq(Nil, Nil, Nil)), 0x3fL)
    assert(sink.completed === Seq("0000003f"))
    assert(sink.lastSequence === Some(0x3fL))
    assert(!Files.exists(root.resolve("ledgers/ledger=0000003f")))
  }

  test("a write whose second partition throws commits nothing; a replay lands a clean tree") {
    val first = Seq(awkward.take(2))
    val second = Seq(awkward.slice(2, 4), awkward.slice(4, 6), awkward.drop(6))
    val root = temp("graft-crash")
    val sink = new PartitionedFileSink(root.toString)
    sink.save(frame(first), 0x3fL)
    // partition 1 throws once partitions 0 and 2 have renamed their part
    // files, so the failed job leaves data behind it to clean up
    val others = new CountDownLatch(2)
    FileSinkSpec.others = others
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason == org.apache.spark.Success) others.countDown()
    }
    val sc = spark.sparkContext
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    val failing = spark.createDataFrame(sc.parallelize(second, 3).mapPartitionsWithIndex { (i, it) =>
      val rows = it.flatten
      if (i == 1) {
        FileSinkSpec.others.await(30, TimeUnit.SECONDS)
        rows.map(r => if (r.isNullAt(0)) throw new IllegalStateException("partition 1 fails") else r)
      } else rows
    }, schema)
    try {
      val e = intercept[Exception](sink.save(failing, 0x7fL))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains("partition 1 fails")), e)
    } finally sc.removeSparkListener(listener)
    assert(others.getCount === 0)
    assert(sink.completed === Seq("0000003f"))
    assert(sink.lastSequence === Some(0x3fL))
    assert(!Files.exists(root.resolve("ledgers/ledger=0000007f")))

    sink.save(frame(second), 0x7fL)
    val clean = temp("graft-crash-clean")
    val cleanSink = new PartitionedFileSink(clean.toString)
    cleanSink.save(frame(first), 0x3fL)
    cleanSink.save(frame(second), 0x7fL)
    assert(tree(root) === tree(clean))
    assert(tree(root).keySet.count(_.contains("part-")) === (1 + 3) * 2) // with .crc
  }

  test("a task retried after a failed attempt commits one part file per non-empty partition") {
    // the shared session runs tasks once; a retrying master needs its
    // own SparkContext, so SinkRetryMain runs in a JVM of its own
    val root = temp("graft-retry")
    val flag = Files.createTempDirectory("graft-retry-flag").resolve("attempt0-failed")
    val log = Files.createTempFile("graft-retry", ".log")
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++ jvm ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"), SinkRetryMain.getClass.getName.stripSuffix("$"),
        root.toString, flag.toString)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log.toFile).start()
    assert(p.waitFor(300, TimeUnit.SECONDS), "retry JVM timed out")
    assert(p.exitValue === 0, new String(Files.readAllBytes(log), "UTF-8").takeRight(4000))
    assert(Files.exists(flag)) // attempt 0 did fail
    val dir = root.resolve("ledgers/ledger=0000003f")
    val got = tree(dir)
    assert(got.keySet === Set("", "_SUCCESS", "._SUCCESS.crc") ++
      Seq(0, 1, 3).flatMap { i =>
        val name = f"part-$i%05d-<uuid>-c000.csv"
        Seq(name, s".$name.crc")
      })
    assert(new String(got("part-00001-<uuid>-c000.csv")._1.toArray, "UTF-8") === "3\n4\n5\n")
    assert(new PartitionedFileSink(root.toString).completed === Seq("0000003f"))
  }
}

object FileSinkSpec {
  @volatile private[graft] var others: CountDownLatch = new CountDownLatch(0)
}

/** Saves one checkpoint under a `local[2,2]` session, which retries a
  * failed task once: partition 1 fails on its attempt 0 after its first
  * row, partition 2 is empty. Arguments: the sink root, and a file to
  * create when attempt 0 fails.
  */
object SinkRetryMain {
  def main(args: Array[String]): Unit = {
    val Array(root, flag) = args
    val spark = Engine.session("local[2,2]", 2)
    try {
      val parts = Seq(Seq(1, 2), Seq(3, 4, 5), Nil, Seq(6))
      val rows = spark.sparkContext.parallelize(parts, parts.size).mapPartitions { it =>
        val attempt = TaskContext.get().attemptNumber()
        it.flatten.map { n =>
          if (n == 4 && attempt == 0) {
            Files.createFile(Paths.get(flag))
            throw new IllegalStateException("attempt 0 fails")
          }
          Row(n)
        }
      }
      val ops = spark.createDataFrame(rows, StructType(Seq(StructField("n", IntegerType))))
      new PartitionedFileSink(root).save(ops, 0x3fL)
    } finally SparkSession.getActiveSession.foreach(_.stop())
  }
}

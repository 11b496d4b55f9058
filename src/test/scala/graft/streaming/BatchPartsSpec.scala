package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Crash-point enumeration for the shared `batch=` store machinery
  * ([[BatchParts]]) that every live store (LivePipeline, LiveVectors,
  * LiveCounts, LiveIndex) builds on. The per-store specs prove
  * end-to-end behavior at a few crash points; this spec walks EVERY
  * boundary of the fold and rewrite protocols on a minimal store and
  * pins the invariants the stores rely on:
  *
  *  1. READER COMPLETENESS — at any crash point, the non-mutating
  *     reader view ([[BatchParts.effectiveParts]]: newest committed
  *     fold plus batches past its horizon) sees exactly the store's
  *     rows, no loss, no duplication;
  *  2. NON-DESTRUCTIVE COMMIT — a fold commit deletes nothing, so
  *     every dir a pre-commit listing named is still readable after
  *     the commit (the concurrent-serve guarantee the old
  *     delete-inside-commit protocol could not give); superseded
  *     dirs only leave at the NEXT writer op's GC;
  *  3. WRITER CONVERGENCE — recovery plus a re-run of the interrupted
  *     maintenance converges to the same final layout as an
  *     uninterrupted run.
  */
class BatchPartsSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def fs(dir: String) =
    graft.Engine.fileSystem(spark, new Path(dir))

  /** A store of 3 committed partitions holding rows 0..8 (3 each). */
  private def mkStore(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bp").toString + "/store"
    for (b <- 0 to 2)
      (b * 3 until b * 3 + 3).map(_.toLong).toDF("v")
        .write.parquet(s"$dir/batch=$b")
    dir
  }

  /** The reader view: one listing, no staging reads, no mutation. */
  private def readerRows(dir: String): Seq[Long] = {
    val parts = BatchParts.effectiveParts(spark, dir)
    val liveIds = parts.map(_._1).toSet
    val rewrites = BatchParts.pendingRewrites(spark, dir)
      .filter { case (id, _) => !liveIds(id) }
      .map(_._2)
    (parts.map(_._2) ++ rewrites).flatMap(p =>
      spark.read.schema("v LONG").parquet(p).collect().map(_.getLong(0)))
  }

  private def names(dir: String): Set[String] =
    fs(dir).listStatus(new Path(dir)).map(_.getPath.getName).toSet

  private def foldTo(dir: String, h: Long, gen: Long): Unit =
    spark.read.schema("v LONG").parquet(
        BatchParts.effectiveParts(spark, dir).filter(_._1 <= h).map(_._2): _*)
      .write.mode("overwrite").parquet(BatchParts.stagingPath(dir, h, gen))

  test("committed listing: exists-probe and recursive regimes agree; debris is skipped") {
    // round-14 regression guard: committedNames answers "which child
    // dirs are committed" with per-child _SUCCESS probes when children
    // are bounded and flips to one recursive LIST past the cutover —
    // the two regimes must classify identically (committed batch dirs
    // in; uncommitted dirs, stagings, bucket innards, loose files out)
    import spark.implicits._
    val dir = mkStore()
    val f = fs(dir)
    // debris: an uncommitted dir (no _SUCCESS), a staging, a loose file
    f.mkdirs(new Path(dir, "batch=9"))
    Seq(1L).toDF("v").write.parquet(BatchParts.stagingPath(dir, 2, 0))
    f.create(new Path(dir, "stray.txt"), true).close()
    // a committed BUCKETED fold: its _SUCCESS sits at the fold level;
    // the bucket= subdirs inside must not confuse either regime
    foldTo(dir, 1, 0)
    BatchParts.commitFold(spark, dir, 1, 0)
    def classify() = (
      BatchParts.committed(spark, dir).map(_._1),
      BatchParts.folds(spark, dir).map(t => (t._1, t._2)))
    val small = classify()
    assert(small === ((Seq(0L, 1L, 2L), Seq((1L, 0L)))),
      s"bounded-children regime misclassified: $small")
    // force the recursive regime: blow past the 256-child cutover with
    // committed empty batch dirs, then demand the same classification
    for (i <- 100 until 400) {
      val d = new Path(dir, s"batch=$i")
      f.mkdirs(d)
      f.create(new Path(d, "_SUCCESS"), true).close()
    }
    val (big, bigFolds) = classify()
    assert(big.toSet === ((0L to 2L) ++ (100L until 400L)).toSet &&
      bigFolds === Seq((1L, 0L)),
      s"recursive regime disagrees: ${big.size} committed, folds $bigFolds")
  }

  test("bucketed fold lays rows KEY-SORTED within each bucket (the row-group premise)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-bp-sort").toString + "/store"
    val flat = (0 until 512).map(i => s"k%03d".format((i * 131) % 512)).toDF("k")
    BatchParts.stageBucketedFold(spark, dir, 0, 0, flat,
      pmod(hash(col("k")), lit(8)), 8, Seq("k"))
    BatchParts.commitFold(spark, dir, 0, 0)
    val foldDir = new java.io.File(dir).listFiles().map(_.getName)
      .find(_.startsWith("fold=")).get
    val buckets = new java.io.File(s"$dir/$foldDir").listFiles()
      .filter(_.getName.startsWith("bucket="))
    assert(buckets.nonEmpty)
    for (b <- buckets; pf <- b.listFiles() if pf.getName.endsWith(".parquet")) {
      // single-file read preserves row order: the keys must arrive
      // non-decreasing, or the pushed In(key) filters' row-group
      // min/max stats are loose and the pruning claim is vacuous
      val ks = spark.read.schema("k STRING").parquet(pf.toString)
        .collect().map(_.getString(0))
      assert(ks.sameElements(ks.sorted),
        s"bucket ${b.getName} not key-sorted: ${ks.take(8).mkString(",")}…")
    }
  }

  test("fold dedupKeys: duplicates collapse inside the bucket exchange, sort preserved") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-bp-dedup").toString + "/store"
    // every key appears 1-3 times, with a payload column that is
    // IDENTICAL across a key's copies (the replay-debris shape the
    // fold's dedup exists for); keys deliberately out of order
    val rows = (0 until 256).flatMap { i =>
      val k = s"k%03d".format((i * 131) % 256)
      Seq.fill(1 + i % 3)((k, (i * 131) % 256))
    }
    val flat = scala.util.Random.shuffle(rows).toDF("k", "payload")
    BatchParts.stageBucketedFold(spark, dir, 0, 0, flat,
      pmod(hash(col("k")), lit(8)), 8, Seq("k"), dedupKeys = Seq("k"))
    BatchParts.commitFold(spark, dir, 0, 0)
    val foldDir = new java.io.File(dir).listFiles().map(_.getName)
      .find(_.startsWith("fold=")).get
    val got = spark.read.option("basePath", s"$dir/$foldDir")
      .parquet(s"$dir/$foldDir")
    // exactly one row per key, payloads intact (= dropDuplicates)
    assert(got.count() === 256L)
    assert(got.select("k", "payload").distinct().count() === 256L)
    assert(got.filter(col("payload") =!= conv(substring(col("k"), 2, 3), 10, 10)
        .cast("int")).count() === 0L)
    // the row-group premise still holds under the fused dedup: each
    // written file arrives key-sorted
    val buckets = new java.io.File(s"$dir/$foldDir").listFiles()
      .filter(_.getName.startsWith("bucket="))
    for (b <- buckets; pf <- b.listFiles() if pf.getName.endsWith(".parquet")) {
      val ks = spark.read.schema("k STRING").parquet(pf.toString)
        .collect().map(_.getString(0))
      assert(ks.sameElements(ks.sorted),
        s"bucket ${b.getName} not key-sorted after dedup")
    }
  }

  test("fold: reader completeness and convergence at every crash boundary") {
    val allRows = (0L to 8L)
    // boundary 0: staging written but NOT committed (no _SUCCESS)
    locally {
      val dir = mkStore()
      foldTo(dir, 2L, 0L)
      assert(fs(dir).delete(new Path(s"$dir/.compact-2-0/_SUCCESS"), false))
      assert(readerRows(dir).sorted === allRows, "incomplete staging must be ignored")
      BatchParts.recoverFold(spark, dir)
      assert(!fs(dir).exists(new Path(s"$dir/.compact-2-0")),
        "incomplete staging discarded")
      assert(readerRows(dir).sorted === allRows)
    }
    // boundary 1: staging committed, rename pending (crash between the
    // staging's _SUCCESS and the commitFold rename)
    locally {
      val dir = mkStore()
      foldTo(dir, 2L, 0L)
      assert(readerRows(dir).sorted === allRows,
        "a committed-but-unrenamed staging is invisible; the batches are complete")
      assert(BatchParts.pendingFold(spark, dir).isDefined, "crash debt visible to status")
      BatchParts.recoverFold(spark, dir) // commits the fold; GC of its sources deferred
      assert(readerRows(dir).sorted === allRows, "post-commit view: fold only, no dup")
      assert(names(dir).contains("fold=2-0"))
      assert(names(dir).intersect(Set("batch=0", "batch=1", "batch=2")).size === 3,
        "commit must not delete the fold's sources (deferred GC)")
      BatchParts.recoverFold(spark, dir) // the NEXT writer op GCs
      assert(names(dir) === Set("fold=2-0"), "next writer op GCs superseded dirs")
      assert(readerRows(dir).sorted === allRows)
    }
    // boundary 2: fold committed (rename done), GC pending — the
    // normal end state of a compact() call. A listing taken BEFORE
    // the commit still names only dirs that exist after it.
    locally {
      val dir = mkStore()
      val preCommitDirs = BatchParts.effectiveParts(spark, dir).map(_._2)
      foldTo(dir, 2L, 0L)
      BatchParts.commitFold(spark, dir, 2L, 0L)
      preCommitDirs.foreach(p => assert(fs(dir).exists(new Path(p)),
        s"pre-commit listing invalidated by the commit: $p"))
      assert(spark.read.schema("v LONG").parquet(preCommitDirs: _*)
        .collect().map(_.getLong(0)).sorted.toSeq === allRows,
        "a reader holding the pre-commit listing still reads the full store")
      assert(readerRows(dir).sorted === allRows, "post-commit view complete, no dup")
      // boundary 3: GC interrupted mid-delete — reader unaffected
      assert(fs(dir).delete(new Path(s"$dir/batch=1"), true))
      assert(readerRows(dir).sorted === allRows)
      BatchParts.recoverFold(spark, dir)
      assert(names(dir) === Set("fold=2-0"))
      assert(readerRows(dir).sorted === allRows)
      assert(BatchParts.isCommitted(spark, dir, 2L),
        "a folded batch id counts as committed after its dir is GC'd")
      assert(!BatchParts.isCommitted(spark, dir, 3L))
    }
  }

  test("re-fold at the same horizon commits under a fresh generation, never an overwrite") {
    val dir = mkStore()
    foldTo(dir, 2L, 0L)
    BatchParts.commitFold(spark, dir, 2L, 0L)
    BatchParts.recoverFold(spark, dir) // GC the batch dirs
    assert(names(dir) === Set("fold=2-0"))
    // tombstone-style re-fold: same horizon, no new batches
    assert(BatchParts.nextFoldGen(spark, dir) === 1L)
    spark.read.schema("v LONG").parquet(s"$dir/fold=2-0").filter(col("v") =!= 4L)
      .write.parquet(BatchParts.stagingPath(dir, 2L, 1L))
    BatchParts.commitFold(spark, dir, 2L, 1L)
    assert(names(dir).contains("fold=2-0"),
      "the superseded fold survives its successor's commit (readers may be on it)")
    assert(readerRows(dir).sorted === (0L to 8L).filter(_ != 4L),
      "the newest generation wins the reader view")
    BatchParts.recoverFold(spark, dir)
    assert(names(dir) === Set("fold=2-1"), "GC retires the old generation")
    assert(readerRows(dir).sorted === (0L to 8L).filter(_ != 4L))
  }

  test("legacy single-number stagings migrate; unparseable debris cannot wedge the writer") {
    val dir = mkStore()
    // a pre-generation `.compact-<m>` staging left by an old-format
    // crash: recovery adopts it under a fresh generation instead of
    // throwing on the parse — the upgrade cannot wedge a store
    // carrying old crash debt
    spark.read.schema("v LONG").parquet(s"$dir/batch=0", s"$dir/batch=1", s"$dir/batch=2")
      .write.mode("overwrite").parquet(s"$dir/.compact-2")
    // foreign debris beside it is skipped, not fatal
    assert(fs(dir).mkdirs(new Path(s"$dir/.compact-junk")))
    BatchParts.recoverFold(spark, dir)
    assert(names(dir).exists(_.startsWith("fold=2-")),
      "legacy staging committed under a generation-suffixed fold name")
    assert(readerRows(dir).sorted === (0L to 8L))
    BatchParts.recoverFold(spark, dir) // next writer op GCs sources
    assert(names(dir).filter(_.startsWith("batch=")).isEmpty)
    assert(readerRows(dir).sorted === (0L to 8L))
    assert(names(dir).contains(".compact-junk"), "debris is left alone")
  }

  test("randomized maintenance schedules preserve reader completeness (seeded)") {
    import spark.implicits._
    // the deterministic tests walk each crash boundary once; this walks
    // COMPOSITIONS — random interleavings of batch appends, full folds,
    // folds crashed before/after their _SUCCESS, and recovery — and
    // asserts after EVERY op that the reader view is exactly the
    // multiset of rows ever committed (no loss, no duplication)
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-bp-rand$seed").toString + "/store"
      var nextId = 0L
      val expected = scala.collection.mutable.ArrayBuffer.empty[Long]
      def addBatch(): Unit = {
        val vals = Seq.fill(rnd.nextInt(3) + 1)(rnd.nextLong())
        vals.toDF("v").write.mode("overwrite").parquet(s"$dir/batch=$nextId")
        expected ++= vals; nextId += 1
      }
      def stageFold(commit: Boolean, complete: Boolean): Unit = {
        val parts = BatchParts.effectiveParts(spark, dir)
        if (parts.nonEmpty) {
          val h = parts.last._1
          val g = BatchParts.nextFoldGen(spark, dir)
          foldTo(dir, h, g)
          if (!complete)
            fs(dir).delete(new Path(s"${BatchParts.stagingPath(dir, h, g)}/_SUCCESS"), false)
          else if (commit) BatchParts.commitFold(spark, dir, h, g)
        }
      }
      addBatch()
      for (_ <- 1 to 25) {
        rnd.nextInt(5) match {
          case 0 | 1 => addBatch()
          case 2 => stageFold(commit = true, complete = true)   // clean fold
          case 3 => stageFold(commit = rnd.nextBoolean(), complete = rnd.nextBoolean())
          case 4 => BatchParts.recoverFold(spark, dir)
        }
        assert(readerRows(dir).sorted === expected.sorted.toSeq,
          s"seed=$seed: reader view diverged mid-schedule")
      }
      BatchParts.recoverFold(spark, dir)
      BatchParts.recoverFold(spark, dir)
      assert(readerRows(dir).sorted === expected.sorted.toSeq, s"seed=$seed: final view")
    }
  }

  test("rewrite: reader substitution only for a missing source; recovery converges") {
    val survivors = Seq(0L, 2L, 3L, 4L, 5L, 6L, 7L, 8L) // row 1 rewritten away
    // boundary 0: rewrite staged but NOT committed — never read, discarded
    locally {
      val dir = mkStore()
      spark.read.schema("v LONG").parquet(s"$dir/batch=0").filter(col("v") =!= 1L)
        .write.parquet(BatchParts.rewritePath(dir, 0L))
      assert(fs(dir).delete(new Path(s"$dir/.rewrite-0/_SUCCESS"), false))
      assert(readerRows(dir).sorted === (0L to 8L), "incomplete rewrite ignored")
      BatchParts.recoverRewrites(spark, dir)
      assert(!fs(dir).exists(new Path(s"$dir/.rewrite-0")))
      assert(readerRows(dir).sorted === (0L to 8L))
    }
    // boundary 1: committed staging, source still present — the source
    // wins (the rewritten-away rows are still masked upstream by the
    // tombstones that motivated the rewrite, so no duplication and no
    // premature removal at this layer)
    // boundary 2: committed staging, source deleted, rename pending —
    // the staging substitutes
    for (deleteSource <- Seq(false, true)) {
      val dir = mkStore()
      spark.read.schema("v LONG").parquet(s"$dir/batch=0").filter(col("v") =!= 1L)
        .write.parquet(BatchParts.rewritePath(dir, 0L))
      if (deleteSource) assert(fs(dir).delete(new Path(s"$dir/batch=0"), true))
      val expect = if (deleteSource) survivors else (0L to 8L)
      assert(readerRows(dir).sorted === expect,
        s"reader view with deleteSource=$deleteSource")
      BatchParts.recoverRewrites(spark, dir)
      assert(readerRows(dir).sorted === survivors,
        "recovery completes the rewrite either way")
      assert(names(dir) === Set("batch=0", "batch=1", "batch=2"))
    }
  }

  test("empty bucketed fold: the marker is authoritative, maintenance converges") {
    import spark.implicits._
    // forget EVERY indexed doc, compact: the tombstone anti-join
    // empties both folds — bucket= dirs vanish but the _buckets marker
    // stays. foldBuckets must trust the marker (dirs-only detection
    // re-folded the empty store under a fresh generation on every later
    // maintenance pass, forever), serving must read the empty store
    // cleanly, and a post-retirement re-arrival must index anew.
    val root = java.nio.file.Files.createTempDirectory("graft-empty-fold").toString
    val cfg = LiveIndex.Config(root)
    LiveIndex.step(Seq((1L, "spark merge window"), (2L, "other words here"))
      .toDF("doc_id", "text"), 0L, cfg)
    LiveIndex.step(Seq((3L, "third doc arrives")).toDF("doc_id", "text"), 1L, cfg)
    LiveIndex.forget(spark, cfg, Seq(1L, 2L, 3L))
    LiveIndex.compact(spark, cfg)
    def foldNames(kind: String): Set[String] =
      Option(new java.io.File(s"$root/$kind").listFiles()).map(_.toSeq)
        .getOrElse(Seq.empty).map(_.getName).filter(_.startsWith("fold=")).toSet
    LiveIndex.compact(spark, cfg) // writer op after commit GCs + would re-fold
    val after1 = foldNames("doclens")
    assert(BatchParts.foldBuckets(spark,
      s"$root/doclens/${after1.head}").contains(LivePipeline.StoreBuckets.toLong),
      "an empty bucketed fold must still read as bucketed via its marker")
    LiveIndex.compact(spark, cfg)
    assert(foldNames("doclens") === after1,
      "maintenance over an empty bucketed fold must be a no-op, not a re-fold")
    // serving reads the empty store without tripping on the fileless fold
    assert(LiveIndex.bm25(spark, cfg, Seq("spark", "merge"), 5).count() === 0)
    // tombstones were applied+retired by the fold: the ids re-index
    LiveIndex.step(Seq((1L, "spark merge window")).toDF("doc_id", "text"), 2L, cfg)
    assert(LiveIndex.bm25(spark, cfg, Seq("spark", "merge"), 5).count() === 1)
  }

  test("tombstone shelf: retire removes only the parts listed at entry") {
    import spark.implicits._
    // a compaction or vacuum lists the shelf once, applies that listing,
    // and retires exactly it: a forget landing in between survives and
    // keeps masking its id until the next pass
    val root = java.nio.file.Files.createTempDirectory("graft-tomb-shelf").toString
    val cfg = LiveIndex.Config(root)
    LiveIndex.step(Seq((1L, "spark one"), (2L, "spark two"), (3L, "spark three"))
      .toDF("doc_id", "text"), 0L, cfg)
    LiveIndex.forget(spark, cfg, Seq(1L))
    val listed = BatchParts.tombstoneParts(spark, root)
    LiveIndex.forget(spark, cfg, Seq(2L))
    BatchParts.retireTombstoneParts(spark, root, listed)
    val left = BatchParts.tombstoneParts(spark, root)
    assert(left.map(_._1) === Seq(1L), "only the listed part is retired")
    assert(BatchParts.tombstoneIds(spark, root, "doc_id", left)
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
    val served = LiveIndex.bm25(spark, cfg, Seq("spark"), 5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(!served.contains(2L), "the surviving tombstone still masks its id")
    assert(served.contains(3L))
  }

  test("fold and rewrite pending at once: recovery handles both") {
    val dir = mkStore()
    // a rewrite of batch=0 staged+committed AND a fold staged+committed,
    // both interrupted before their renames — the single maintenance
    // owner can crash between vacuum and compact
    spark.read.schema("v LONG").parquet(s"$dir/batch=0").filter(col("v") =!= 1L)
      .write.parquet(BatchParts.rewritePath(dir, 0L))
    BatchParts.recoverRewrites(spark, dir) // rewrite completes first
    foldTo(dir, 2L, 0L)
    assert(readerRows(dir).sorted === (0L to 8L).filter(_ != 1L),
      "batches complete after the rewrite, staging invisible")
    BatchParts.recoverFold(spark, dir)
    BatchParts.recoverFold(spark, dir) // second writer op GCs
    assert(names(dir) === Set("fold=2-0"))
    assert(readerRows(dir).sorted === (0L to 8L).filter(_ != 1L))
  }
}

package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Product quantization (n7): the third rung of the vector-compression
  * ladder (n5 int8 scalar → n4/n6 coarse cells → PQ codes), and the
  * serving dataflow of inverted-file-with-PQ systems.
  *
  * The 64-dim space splits into [[M]] 8-dim subspaces; each subspace has
  * its own [[K]]-entry codebook (here the decimal-exact per-label
  * sub-centroids — deterministic in both engines, same seeding rationale
  * as the n4 coarse quantizer; n6 shows the trained path). A vector is
  * stored as M small codes (nearest sub-centroid per subspace, stable
  * (d2, code) tie-break) — 8 bytes instead of 256, which is what makes a
  * 100 TB embedding store scannable.
  *
  * Query time is asymmetric distance computation (ADC) + refine: one
  * tiny distance table (M×K decimal-exact squared distances from the
  * query's subvectors to every codebook entry) is joined against the
  * codes store and summed per vector; the [[ShortlistR]] best by
  * approximate distance are then re-ranked with the exact cosine — the
  * standard two-stage PQ serving shape, because quantization collapses
  * within-cell distinctions (vectors sharing all M codes tie exactly;
  * AnnRecallSpec shows the shortlist-then-refine stage is what restores
  * recall). The corpus-side work is a scan of the code table plus two
  * broadcast joins; float vectors are touched only for the R shortlist
  * rows. ADC distances stay DECIMAL(28,12) end-to-end in BOTH engines
  * (summing them as doubles would reorder across engines; recasting a
  * decimal-born double back to decimal risks the documented
  * shortest-decimal-vs-exact-binary window at 15+ significant digits).
  *
  * Ingest artifacts (one-time per (JVM, dataset), Bench warm-up builds
  * them): `codebook` parquet (M×K×8 rows) + `codes` parquet (M rows per
  * vector).
  */
object Pq {
  type Q = (SparkSession, String) => DataFrame

  private val Dec12 = DecimalType(28, 12)
  private val M = 8        // subspaces
  private val SubDim = 8   // dims per subspace (64 total)
  private val ShortlistR = 50 // ADC shortlist size re-ranked exactly

  /** Per-dataset store: codebook entries collected driver-side
    * ((m, code) → dim-indexed sub-centroid — M×K×SubDim doubles, query-
    * planning state like n4's centroid cache) + the codes relation.
    */
  private val pqCache =
    scala.collection.concurrent.TrieMap.empty[String, (Map[(Int, Int), Array[Double]], DataFrame)]

  /** Exploded corpus with subspace index: (vec_id, label, m, dim, v). */
  private def ex(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .withColumnRenamed("pos", "dim")
      .withColumnRenamed("col", "v")
      .withColumn("m", expr(s"dim div $SubDim"))

  /** `(codebook, codes)` — codebook (m, code, dim, c); codes (vec_id, m,
    * code) with one code per (vector, subspace).
    */
  private def pqStore(s: SparkSession, d: String): (Map[(Int, Int), Array[Double]], DataFrame) =
    pqCache.getOrElseUpdate(d, {
      val out = Stores.dir(s, d, "pq")
      val e = Tables.embeddings(s, d)
      val exd = ex(e)
      val cb = exd.groupBy(col("m"), col("label").as("code"), col("dim"))
        .agg((sum(col("v").cast("double").cast(Dec12)).cast("double") /
          count(lit(1)).cast("double")).as("c"))
      cb.coalesce(1).write.mode("overwrite").parquet(s"$out/codebook")
      val cbr = s.read.parquet(s"$out/codebook")
      // encode: per (vector, subspace) nearest sub-centroid
      val vd = col("v").cast("double")
      val dist = exd.join(broadcast(cbr), Seq("m", "dim"))
        .groupBy(col("vec_id"), col("m"), col("code"))
        .agg(sum(((vd - col("c")) * (vd - col("c"))).cast(Dec12))
          .cast("double").as("d2"))
      val w = Window.partitionBy("vec_id", "m").orderBy(col("d2"), col("code"))
      dist.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("vec_id", "m", "code")
        .write.mode("overwrite").parquet(s"$out/codes")
      val cbLocal = cbr.collect() // M×K×SubDim rows — query-planning state
        .groupBy(r => (r.getLong(0).toInt, r.getInt(1))) // m is LONG (dim div 8)
        .map { case (k, rows) =>
          val dims = rows.map(r => r.getInt(2) -> r.getDouble(3)).toMap
          // dims are global indices; sub-centroid is indexed by offset in m
          k -> Array.tabulate(SubDim)(i => dims(k._1 * SubDim + i))
        }
      (cbLocal, s.read.parquet(s"$out/codes"))
    })

  /** IVF-PQ combined store: the codes table re-written
    * `partitionBy(cell)` where cell is the n4 coarse-quantizer cell
    * (label) of the vector — the layout inverted-file-with-PQ systems
    * serve from. Ingest-time: one vocab-thin join of codes against
    * (vec_id → cell) and one partitioned write; the resolved relation
    * is cached so directory listing happens once per JVM. (This is the
    * no-residual IVFPQ variant: codes quantize the raw vectors, cells
    * only prune the scan — residual encoding would couple the two
    * codebooks and is a recall refinement, not a dataflow change.)
    */
  private val ivfpqCache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  private def ivfpqStore(s: SparkSession, d: String): DataFrame =
    ivfpqCache.getOrElseUpdate(d, {
      val out = Stores.dir(s, d, "ivfpq")
      val (_, codes) = pqStore(s, d)
      codes.join(Tables.embeddings(s, d).select(col("vec_id"), col("label").as("cell")), "vec_id")
        .repartition(col("cell")) // one file per cell directory
        .write.mode("overwrite").partitionBy("cell").parquet(out)
      s.read.schema(StructType(Seq(
        StructField("vec_id", LongType), StructField("m", LongType),
        StructField("code", IntegerType), StructField("cell", IntegerType)))).parquet(out)
    })

  def ensureStores(s: SparkSession, d: String): Unit = { pqStore(s, d); ivfpqStore(s, d); () }

  /** The cell-pruned codes-scan plan, for ScaleSpec's pruning pin — the
    * shortlist job executes eagerly inside n15, so its plan is not
    * visible on the returned refine DataFrame.
    */
  def prunedCodesPlan(s: SparkSession, d: String): String = {
    val cells = Ivf.labelProbeCells(s, d)
    ivfpqStore(s, d).filter(col("cell").isin(cells: _*))
      .queryExecution.executedPlan.toString
  }

  /** ADC distance table: M×K decimal squared distances from the query's
    * subvectors to every codebook entry — computed DRIVER-side over the
    * codebook cache (n4's planning pattern: BigDecimal HALF_UP = Spark's
    * double→decimal cast semantics) and shipped as a tiny decimal-typed
    * local relation, so no corpus-side job runs before the codes scan.
    * Stays DECIMAL end-to-end so the per-vector sum is order-independent
    * in both engines. Query vector comes from the shared cached
    * planning-state point read (one job per (JVM, dataset) across the
    * whole ANN family, not one per invocation).
    */
  private def qtabFor(s: SparkSession, d: String,
      cb: Map[(Int, Int), Array[Double]]): DataFrame = {
    val qArr = Similarity.paramVec(s, d, 0L).map(_.toDouble)
    val qtabRows = cb.toSeq.map { case ((m, code), c) =>
      val d2 = graft.Cols.decimalSqDist(qArr, c, off = m * SubDim)
      org.apache.spark.sql.Row(m.toLong, code, d2) // m is LONG in the codes store
    }
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](qtabRows.asJava),
      StructType(Seq(
        StructField("m", LongType), StructField("code", IntegerType),
        StructField("d2", DecimalType(38, 12)))))
  }

  /** ADC shortlist from a codes relation: join the broadcast distance
    * table, sum per vector, keep the [[ShortlistR]] best — resolved to
    * literals driver-side (R longs, the same serving-path pattern as
    * n2's bucket / n4's cells), so the float re-rank is a pushed-filter
    * point read of R rows, not a join.
    */
  private def adcShortlist(codes: DataFrame, qtab: DataFrame): Seq[Long] =
    codes.filter(col("vec_id") =!= 0)
      .join(broadcast(qtab), Seq("m", "code"))
      .groupBy("vec_id")
      .agg(sum(col("d2")).cast("double").as("approx_d2"))
      .orderBy(col("approx_d2"), col("vec_id"))
      .limit(ShortlistR)
      .select("vec_id").collect().map(_.getLong(0)).toSeq

  /** Exact-cosine re-rank of the shortlist rows only. */
  private def refine(s: SparkSession, d: String, shortlist: Seq[Long]): DataFrame = {
    val qF = Similarity.paramVec(s, d, 0L)
    val qn = Similarity.paramNorm(s, d, 0L)
    Tables.embeddings(s, d)
      .filter(col("vec_id").isin(shortlist: _*))
      .withColumn("norm", sqrt(graft.Cols.fastDot(col("embedding"), col("embedding"))))
      .withColumn("cos",
        graft.Cols.fastDot(col("embedding"), typedLit(qF)) / (col("norm") * lit(qn)))
      .select("vec_id", "label", "cos")
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  def queries: Map[String, Q] = Map(
    "n7_ann_pq" -> { (s, d) =>
      val (cb, codes) = pqStore(s, d)
      val shortlist = adcShortlist(codes, qtabFor(s, d, cb))
      refine(s, d, shortlist)
    },
    // IVF-PQ composition — the serving shape of inverted-file-with-PQ
    // systems, and the full vector-compression ladder in one query:
    // coarse cells PRUNE (the codes scan reads only the nprobe `cell=`
    // directories — driver-planned literals like n4), PQ codes SCORE
    // (the same broadcast ADC table as n7, summed over a cell-pruned
    // fraction of the codes), floats REFINE (exact cosine on the R
    // shortlist rows only). At 100 TB each rung pays for itself: the
    // scan is corpus/nprobe-over-k sized, the scored rows are 8-byte
    // codes not 256-byte floats, and full vectors are touched for R
    // rows. No-residual variant (see [[ivfpqStore]]).
    "n15_ann_ivfpq" -> { (s, d) =>
      val (cb, _) = pqStore(s, d)
      val cells = Ivf.labelProbeCells(s, d)
      val codes = ivfpqStore(s, d).filter(col("cell").isin(cells: _*))
      val shortlist = adcShortlist(codes, qtabFor(s, d, cb))
      refine(s, d, shortlist)
    }
  )

  /** Shared oracle prefix `ex … qtab`: subspace explode, codebooks,
    * encoding, the query's ADC distance table.
    */
  private val adcCtes: String =
    s"""ex AS (
       |  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim, unnest(embedding) AS v
       |  FROM embeddings),
       |exm AS (SELECT vec_id, label, dim, dim // $SubDim AS m, v FROM ex),
       |cb AS (
       |  SELECT m, label AS code, dim,
       |    CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS c
       |  FROM exm GROUP BY m, label, dim),
       |dist AS (
       |  SELECT e.vec_id, c.m, c.code,
       |    CAST(SUM(CAST((CAST(e.v AS DOUBLE) - c.c) * (CAST(e.v AS DOUBLE) - c.c)
       |      AS DECIMAL(28,12))) AS DOUBLE) AS d2
       |  FROM exm e JOIN cb c ON e.m = c.m AND e.dim = c.dim
       |  GROUP BY e.vec_id, c.m, c.code),
       |codes AS (SELECT vec_id, m, code FROM (
       |    SELECT vec_id, m, code, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn
       |    FROM dist) WHERE rn = 1),
       |qx AS (SELECT dim, CAST(v AS DOUBLE) AS qv FROM exm WHERE vec_id = 0),
       |qtab AS (
       |  SELECT c.m, c.code,
       |    CAST(SUM(CAST((qv - c.c) * (qv - c.c) AS DECIMAL(28,12))) AS DECIMAL(28,12)) AS d2
       |  FROM cb c JOIN qx USING (dim) GROUP BY c.m, c.code)""".stripMargin

  def oracles: Map[String, String] = Map(
    "n7_ann_pq" ->
      s"""WITH $adcCtes,
         |shortlist AS (
         |  SELECT c.vec_id, CAST(SUM(q.d2) AS DOUBLE) AS approx_d2
         |  FROM codes c JOIN qtab q ON c.m = q.m AND c.code = q.code
         |  WHERE c.vec_id <> 0
         |  GROUP BY c.vec_id
         |  ORDER BY approx_d2, c.vec_id LIMIT $ShortlistR),
         |q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, ${graft.Cols.cosineSql("e.embedding", "qemb")} AS cos
         |FROM embeddings e JOIN shortlist s ON e.vec_id = s.vec_id, q
         |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin,
    // n15: the same ADC ladder with the coarse-quantizer prune ahead of
    // the shortlist — cells from the n4 oracle's centroid spelling,
    // codes restricted to vectors whose label lands in the nprobe best.
    "n15_ann_ivfpq" ->
      s"""WITH $adcCtes,
         |cent AS (
         |  SELECT label, dim,
         |    CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE) AS c
         |  FROM ex GROUP BY label, dim),
         |qd AS (
         |  SELECT label,
         |    CAST(SUM(CAST((qv - c) * (qv - c) AS DECIMAL(28,12))) AS DOUBLE) AS d2
         |  FROM cent JOIN qx USING (dim) GROUP BY label),
         |best AS (SELECT label FROM qd ORDER BY d2, label LIMIT ${Ivf.nProbe}),
         |shortlist AS (
         |  SELECT c.vec_id, CAST(SUM(q.d2) AS DOUBLE) AS approx_d2
         |  FROM codes c JOIN qtab q ON c.m = q.m AND c.code = q.code
         |  JOIN embeddings e2 ON c.vec_id = e2.vec_id
         |  JOIN best b ON e2.label = b.label
         |  WHERE c.vec_id <> 0
         |  GROUP BY c.vec_id
         |  ORDER BY approx_d2, c.vec_id LIMIT $ShortlistR),
         |q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, ${graft.Cols.cosineSql("e.embedding", "qemb")} AS cos
         |FROM embeddings e JOIN shortlist s ON e.vec_id = s.vec_id, q
         |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin
  )
}

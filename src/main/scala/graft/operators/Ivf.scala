package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Cols, Tables}

/** IVF-style ANN (SURVEY.md §7.5 scale path): a coarse quantizer assigns
  * every vector to a cell; queries probe only their nprobe nearest cells.
  *
  * The coarse centroids here are the per-label per-dimension decimal-exact
  * means (deterministic in both engines — no iterative k-means, whose
  * float order-dependence would break the oracle; see [[Ivf.kmeans]] for
  * the trained-quantizer variant); at 100 TB the cell id would come from
  * that trained quantizer, but the dataflow is identical either way:
  *
  *   - '''ingest time''' (once per dataset): centroid table (tiny) +
  *     vectors-with-norms written `partitionBy(cell)` — [[cellStore]];
  *   - '''query time''': score the query against the ~k-row centroid
  *     table, pick the nprobe nearest cells, and scan only those `cell=`
  *     directories (partition-pruned — pinned in ScaleSpec) + exact
  *     cosine re-rank.
  *
  * This mirrors the reference's serve-from-precomputed-store pattern
  * (sample/main.py:25: queries hit tables the ingest pipeline wrote, they
  * never recompute the pipeline): before round 5 the quantizer was derived
  * inline per query — a full corpus posexplode + groupBy that made IVF
  * slower than the brute-force scan it exists to prune.
  */
object Ivf {
  type Q = (SparkSession, String) => DataFrame

  private val Dec12 = DecimalType(28, 12)

  /** Cells probed per query — the standard IVF recall/latency lever:
    * scanning the nprobe nearest cells instead of one recovers neighbors
    * that fell just across a cell boundary at nprobe× the scan cost.
    */
  private val NProbe = 2

  /** Materialized IVF store per (JVM, dataset): `(centroids, vectors)`.
    *
    * `centroids` is (cell → per-dim mean) — k×dims values, small enough
    * to live on the driver (a real deployment would broadcast it; either
    * way it is query-planning state, not corpus-scale data). `vectors` is
    * the corpus + precomputed norm written with `partitionBy(cell)` so a
    * probe reads only the chosen `cell=` directories. Built once
    * (TrieMap-guarded) like the n2 signature store
    * (Similarity.signatureTable).
    */
  private val cellCache =
    scala.collection.concurrent.TrieMap.empty[String, (Array[(Int, Array[Double])], DataFrame)]

  private val VecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType),
    StructField("norm", DoubleType),
    // explicit schema so the partition value type is pinned (inference
    // would also pick int here, but pinning keeps the contract obvious)
    StructField("cell", IntegerType)))

  /** (cell, dim, c) rows → per-cell dim-indexed centroid arrays, sorted
    * by cell (shared by the label and k-means stores).
    */
  private def decodeCentroids(rows: Array[org.apache.spark.sql.Row]): Array[(Int, Array[Double])] =
    rows.groupBy(_.getInt(0)).toArray
      .map { case (cell, rs) =>
        val dims = rs.map(r => r.getInt(1) -> r.getDouble(2)).toMap
        (cell, Array.tabulate(dims.size)(dims))
      }
      .sortBy(_._1)

  private def cellStore(s: SparkSession, d: String): (Array[(Int, Array[Double])], DataFrame) =
    cellCache.getOrElseUpdate(d, {
      val out = Stores.dir(s, d, "ivf")
      val e = Tables.embeddings(s, d)
      // coarse quantizer: per-cell per-dimension decimal-exact means
      val ex = e.select(col("label"), posexplode(col("embedding")))
        .withColumnRenamed("pos", "dim")
        .withColumnRenamed("col", "v")
      val centDf = ex.groupBy(col("label").as("cell"), col("dim"))
        .agg((sum(col("v").cast("double").cast(Dec12)).cast("double") /
          count(lit(1)).cast("double")).as("c"))
      centDf.coalesce(1) // k×dims rows — one file (the durable artifact)
        .write.mode("overwrite").parquet(s"$out/centroids")
      // decode from the written file, not the lineage: collecting centDf
      // would re-run the corpus-scale posexplode + groupBy a second time
      val centroids = decodeCentroids(s.read.parquet(s"$out/centroids").collect())
      // cell-partitioned vector store with precomputed norms
      e.withColumn("norm", sqrt(Cols.fastDot(col("embedding"), col("embedding"))))
        .withColumn("cell", col("label"))
        .repartition(col("cell")) // one file per cell directory
        .write.mode("overwrite").partitionBy("cell").parquet(s"$out/vectors")
      // cache the resolved relation: directory listing happens once per JVM
      (centroids, s.read.schema(VecSchema).parquet(s"$out/vectors"))
    })

  /** Force the one-time centroid + cell-store materializations (label
    * quantizer and k-means quantizer) for `d` — called by Bench's warm-up
    * so recorded medians reflect steady-state serving, not ingest cost.
    */
  def ensureStores(s: SparkSession, d: String): Unit = {
    cellStore(s, d)
    kmeansStore(s, d)
  }

  /** The n4 label-quantizer's nprobe cells for the vec_id-0 query, as
    * literals — driver-side planning state shared with the IVF-PQ
    * composition (Pq n15), same decimal arithmetic as [[probe]].
    */
  private[operators] def labelProbeCells(s: SparkSession, d: String): Seq[Int] = {
    val (cent, _) = cellStore(s, d)
    nearestCells(cent, Similarity.paramVec(s, d, 0L).map(_.toDouble))
  }

  /** Nearest-[[NProbe]] cells for a query vector — THE cell-selection
    * rule (decimal-exact distance, (d2, cell) tie-break, take NProbe),
    * shared by the n4/n6 probe and the n15 IVF-PQ composition so the
    * two paths cannot drift.
    */
  private def nearestCells(cent: Array[(Int, Array[Double])],
      qd: Array[Double]): Seq[Int] =
    cent.map { case (cell, c) => (cell, Cols.decimalSqDist(qd, c).doubleValue()) }
      .sortBy { case (cell, d2) => (d2, cell) }.take(NProbe).map(_._1).toSeq

  private[operators] def nProbe: Int = NProbe

  /** Query-time IVF probe shared by n4/n6 (driver-side planning,
    * mirroring n2's serving path): fetch the query vector (pushed-filter
    * point read) and score it against the k×dims centroid cache with the
    * same arithmetic Spark's columnar plan would use — per-dim squared
    * diff in double (IEEE-identical), cast to DECIMAL(28,12) via HALF_UP
    * on the shortest-decimal rendering (java BigDecimal.valueOf = Spark's
    * Decimal.set(double)), exact decimal sum. The nprobe cells resolve to
    * literals so the vector scan is partition-pruned before it runs.
    */
  private def probe(s: SparkSession, d: String,
      cent: Array[(Int, Array[Double])], vecs: DataFrame, tagCol: String): DataFrame = {
    // query vector from the shared cached planning-state point read
    // (Similarity's parameter window) — no per-invocation point-read job
    val q = Similarity.paramVec(s, d, 0L)
    val cells = nearestCells(cent, q.map(_.toDouble))
    val qn = Similarity.paramNorm(s, d, 0L)
    // probe: partition-pruned scan of the chosen cells + exact re-rank
    vecs.filter(col("cell").isin(cells: _*) && col("vec_id") =!= 0)
      .withColumn("cos",
        Cols.fastDot(col("embedding"), typedLit(q)) / (col("norm") * lit(qn)))
      .select("vec_id", tagCol, "cos")
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  // ── k-means-trained quantizer (n6) ─────────────────────────────────────

  /** Lloyd iterations for the trained quantizer. Fixed and small: the
    * point is the iterative-training dataflow (assign → update, driver
    * orchestrating distributed rounds — the d7 shape), not convergence;
    * determinism requires a fixed count, decimal-exact means, and stable
    * argmin tie-breaks so the DuckDB oracle can unroll the same rounds.
    */
  private val KmIters = 2

  private val kmCache =
    scala.collection.concurrent.TrieMap.empty[String, (Array[(Int, Array[Double])], DataFrame)]

  private def exploded(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .withColumnRenamed("pos", "dim")
      .withColumnRenamed("col", "v")

  /** Nearest-centroid assignment: per-(vector, cell) decimal-exact squared
    * distance, argmin with (d2, cell) tie-break. Centroids are a k×dims
    * broadcast; the heavy side is one corpus-scale groupBy + window.
    */
  private def assign(ex: DataFrame, cent: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vd = col("v").cast("double")
    val dist = ex.join(broadcast(cent), "dim")
      .groupBy(col("vec_id"), col("cell"))
      .agg(sum(((vd - col("c")) * (vd - col("c"))).cast(Dec12))
        .cast("double").as("d2"))
    val w = Window.partitionBy("vec_id").orderBy(col("d2"), col("cell"))
    dist.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("vec_id", "cell")
  }

  /** Decimal-exact per-(cell, dim) means over an assignment. */
  private def means(ex: DataFrame, asg: DataFrame): DataFrame =
    ex.join(asg, "vec_id")
      .groupBy("cell", "dim")
      .agg((sum(col("v").cast("double").cast(Dec12)).cast("double") /
        count(lit(1)).cast("double")).as("c"))

  /** Parameterized k-cell quantizer over any (`vec_id`, `embedding`)
    * DataFrame: `iters` Lloyd rounds seeded by the deterministic
    * `vec_id % k` partition means (no labels required — the gate's n6
    * store seeds from the corpus's 16 labels instead, which pins its
    * oracle; this form is the production lever where k must track
    * corpus growth, k ≈ √n — see PLANS.md §"Choosing IVF k").
    * Returns the final (`vec_id`, `cell`) assignment. Per-round state
    * through the driver is k×dims centroid values — bounded planning
    * state, never corpus-shaped.
    */
  def kmeansAssign(e: DataFrame, k: Int, iters: Int = KmIters): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val s = e.sparkSession
    import s.implicits._
    val ex = e.select(col("vec_id"), posexplode(col("embedding")))
      .withColumnRenamed("pos", "dim")
      .withColumnRenamed("col", "v")
    def local(c: DataFrame): DataFrame =
      c.collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
        .toSeq.toDF("cell", "dim", "c")
    var cent = local(ex
      .withColumn("cell", pmod(col("vec_id"), lit(k.toLong)).cast("int"))
      .groupBy("cell", "dim")
      .agg((sum(col("v").cast("double").cast(Dec12)).cast("double") /
        count(lit(1)).cast("double")).as("c")))
    (1 to iters).foreach { _ =>
      cent = local(means(ex, assign(ex, cent)))
    }
    assign(ex, cent)
  }

  /** Trained-quantizer store: KmIters rounds of Lloyd's (seeded by the
    * label means), final assignment, vectors written `partitionBy(cell)`.
    * Each round's centroids pass through the driver (k×dims values), so
    * rounds have independent lineage — no checkpointing needed, unlike
    * d7 where the iterated state is corpus-sized.
    */
  /** The trained-quantizer vector store (vec_id, embedding, label, norm,
    * cell) for operators that consume the k-means cell assignment itself
    * — d11 semantic dedup blocks its pairwise stage on these cells.
    */
  private[operators] def kmeansVectors(s: SparkSession, d: String): DataFrame =
    kmeansStore(s, d)._2

  private def kmeansStore(s: SparkSession, d: String): (Array[(Int, Array[Double])], DataFrame) =
    kmCache.getOrElseUpdate(d, {
      import s.implicits._
      val out = Stores.dir(s, d, "ivf-km")
      val e = Tables.embeddings(s, d)
      val ex = exploded(e)
      def local(c: DataFrame): DataFrame =
        c.collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
          .toSeq.toDF("cell", "dim", "c")
      var cent = local(ex.groupBy(col("label").as("cell"), col("dim"))
        .agg((sum(col("v").cast("double").cast(Dec12)).cast("double") /
          count(lit(1)).cast("double")).as("c")))
      (1 to KmIters).foreach { _ =>
        cent = local(means(ex, assign(ex, cent)))
      }
      cent.coalesce(1).write.mode("overwrite").parquet(s"$out/centroids")
      // cent is a driver-local DataFrame here (built from collected
      // rows), so this collect is trivial — no corpus recompute
      val centroids = decodeCentroids(cent.collect())
      e.join(assign(ex, cent), "vec_id")
        .withColumn("norm", sqrt(Cols.fastDot(col("embedding"), col("embedding"))))
        .select("vec_id", "embedding", "label", "norm", "cell")
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$out/vectors")
      (centroids, s.read.schema(VecSchema).parquet(s"$out/vectors"))
    })

  def queries: Map[String, Q] = Map(
    "n4_ann_ivf" -> { (s, d) =>
      val (cent, vecs) = cellStore(s, d)
      probe(s, d, cent, vecs, "label")
    },
    // k-means IVF: identical probe, trained quantizer — the output's
    // `cell` column is the trained cell id (vs n4's label cell).
    "n6_ann_kmeans" -> { (s, d) =>
      val (cent, vecs) = kmeansStore(s, d)
      probe(s, d, cent, vecs, "cell")
    }
  )

  /** One unrolled Lloyd round in DuckDB: distances vs cent{i-1}, argmin
    * assignment a{i}, updated means cent{i} — the same decimal-exact
    * spellings as the Spark round.
    */
  private def kmRoundSql(i: Int): String =
    s"""dist$i AS (SELECT e.vec_id, c.cell,
       |    CAST(SUM(CAST((CAST(e.v AS DOUBLE) - c.c) * (CAST(e.v AS DOUBLE) - c.c)
       |      AS DECIMAL(28,12))) AS DOUBLE) AS d2
       |  FROM ex e JOIN cent${i - 1} c USING (dim) GROUP BY e.vec_id, c.cell),
       |a$i AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |    FROM dist$i) WHERE rn = 1),
       |cent$i AS (SELECT a.cell, e.dim,
       |    CAST(SUM(CAST(CAST(e.v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS c
       |  FROM ex e JOIN a$i a USING (vec_id) GROUP BY a.cell, e.dim)""".stripMargin

  /** The full unrolled k-means assignment as CTEs (`ex` … `aF`, where
    * `aF(vec_id, cell)` is the final assignment) — shared by the n6
    * oracle and any oracle that consumes the trained cells (d11).
    */
  private[operators] def kmeansAssignCtes: String =
    s"""ex AS (
       |  SELECT label, vec_id, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
       |  FROM embeddings),
       |cent0 AS (
       |  SELECT label AS cell, dim,
       |    CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS c
       |  FROM ex GROUP BY label, dim),
       |${(1 to KmIters).map(kmRoundSql).mkString(",\n")},
       |distF AS (SELECT e.vec_id, c.cell,
       |    CAST(SUM(CAST((CAST(e.v AS DOUBLE) - c.c) * (CAST(e.v AS DOUBLE) - c.c)
       |      AS DECIMAL(28,12))) AS DOUBLE) AS d2
       |  FROM ex e JOIN cent$KmIters c USING (dim) GROUP BY e.vec_id, c.cell),
       |aF AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |    FROM distF) WHERE rn = 1)""".stripMargin

  def oracles: Map[String, String] = Map(
    "n6_ann_kmeans" -> {
      s"""WITH $kmeansAssignCtes,
         |qx AS (SELECT dim, CAST(v AS DOUBLE) AS qv FROM ex WHERE vec_id = 0),
         |qd AS (SELECT c.cell,
         |    CAST(SUM(CAST((qv - c.c) * (qv - c.c) AS DECIMAL(28,12))) AS DOUBLE) AS d2
         |  FROM cent$KmIters c JOIN qx USING (dim) GROUP BY c.cell),
         |best AS (SELECT cell FROM qd ORDER BY d2, cell LIMIT $NProbe),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, a.cell, ${Cols.cosineSql("e.embedding", "qv")} AS cos
         |FROM embeddings e JOIN aF a ON e.vec_id = a.vec_id JOIN best USING (cell), q
         |WHERE e.vec_id <> 0
         |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin
    },
    "n4_ann_ivf" ->
      s"""WITH ex AS (
         |  SELECT label, vec_id, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
         |  FROM embeddings),
         |cent AS (
         |  SELECT label, dim,
         |    CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE) AS c
         |  FROM ex GROUP BY label, dim),
         |qx AS (SELECT dim, CAST(v AS DOUBLE) AS qv FROM ex WHERE vec_id = 0),
         |dist AS (
         |  SELECT label,
         |    CAST(SUM(CAST((qv - c) * (qv - c) AS DECIMAL(28,12))) AS DOUBLE) AS d2
         |  FROM cent JOIN qx USING (dim) GROUP BY label),
         |best AS (SELECT label FROM dist ORDER BY d2, label LIMIT $NProbe),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, ${Cols.cosineSql("e.embedding", "qv")} AS cos
         |FROM embeddings e JOIN best USING (label), q
         |WHERE e.vec_id <> 0
         |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin
  )
}

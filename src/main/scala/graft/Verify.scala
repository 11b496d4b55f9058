package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    // a FAILED query must leave no dump behind: write-overwrite only
    // clears the previous run's parquet once the plan actually runs,
    // so an analysis/action-time exception would otherwise leave stale
    // results in a reused outDir for the DuckDB compare to "pass" on —
    // a correctness regression invisible to the gate
    def wipe(name: String): Unit = {
      val p = Paths.get(s"$outDir/$name")
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    }
    SparkEntry.queries
      .filter { case (name, _) => Bench.selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        wipe(name) // also clears a partial dir from a mid-write crash
      }
    }
    // JSON string escape through the shared spelling ([[Jsons.escape]])
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + Jsons.escape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

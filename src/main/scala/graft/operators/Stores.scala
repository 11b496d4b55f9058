package graft.operators

import org.apache.spark.sql.SparkSession

/** Placement of the engine's materialized stores (MinHash/SimHash
  * signatures, ANN bucket/cell/code tables, the BPE merge vocabulary).
  *
  * The store BUILDERS are scale-safe — distributed writes, partition-
  * pruned reads — but until round 12 their PLACEMENT was not: every
  * builder wrote to `Files.createTempDirectory`, i.e. the driver's
  * local `/tmp`. On `local[*]` driver and executors share that path; on
  * a real cluster `file:/tmp/graft-*` resolves to EACH executor's own
  * disk — writes scatter across machines and reads miss. Store paths
  * therefore must live on storage every executor can reach.
  *
  * Resolution order for the store root:
  *   1. `spark.graft.storeRoot` (session conf) — any Hadoop-FS URI;
  *      also settable as env `STORE_ROOT` through [[graft.Deploy]].
  *   2. unset + local master → a fresh driver-local temp dir (correct
  *      there by construction, and auto-cleaned at JVM exit).
  *   3. unset + cluster master → `<dataset>/_stores/` — adjacent to the
  *      data, so it inherits the dataset's storage (HDFS, s3a, ...)
  *      and its reachability.
  *
  * Under a configured or dataset-adjacent root, paths are deterministic
  * per (dataset, kind): `<root>/<datasetName>-<pathHash>/<kind>`. The
  * hash disambiguates same-named datasets at different paths; writes
  * use `mode("overwrite")`, so re-building into an existing path is
  * idempotent rather than an error.
  */
object Stores {

  /** Resolve the directory for store `kind` over `dataset`. */
  def dir(s: SparkSession, dataset: String, kind: String): String =
    resolve(s.conf.getOption("spark.graft.storeRoot").filter(_.nonEmpty),
      s.sparkContext.isLocal, dataset, kind)

  /** Pure resolution (unit-testable without a cluster master): the
    * three-branch policy documented above.
    */
  private[graft] def resolve(configuredRoot: Option[String], isLocal: Boolean,
      dataset: String, kind: String): String = configuredRoot match {
    case Some(root) => s"${root.stripSuffix("/")}/${datasetKey(dataset)}/$kind"
    case None if isLocal => ephemeralDir(kind)
    case None => s"${dataset.stripSuffix("/")}/_stores/$kind"
  }

  /** `<basename>-<8-hex md5 of full path>`: readable AND collision-free
    * across same-named datasets (every `sf0.1` under a different parent
    * gets its own store tree).
    */
  private def datasetKey(dataset: String): String = {
    val norm = dataset.stripSuffix("/")
    val base = norm.substring(norm.lastIndexOf('/') + 1)
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(norm.getBytes("UTF-8"))
    val hex = md.take(4).map(b => f"$b%02x").mkString
    s"$base-$hex"
  }

  /** Driver-local temp store dir, registered for deletion at JVM exit so
    * long-lived or repeatedly-launched local drivers don't accumulate
    * orphaned store trees in the temp root (previously only the BPE
    * store cleaned up after itself).
    */
  private def ephemeralDir(kind: String): String = {
    val out = java.nio.file.Files.createTempDirectory(s"graft-$kind")
    sys.addShutdownHook {
      import scala.jdk.CollectionConverters._
      try java.nio.file.Files.walk(out).iterator().asScala.toSeq.reverse
        .foreach(p => try { java.nio.file.Files.deleteIfExists(p); () }
          catch { case _: Exception => () })
      catch { case _: Exception => () }
    }
    out.toString
  }
}

package graft

import org.apache.spark.sql.SparkSession
import graft.pipeline.ExtractConfig
import graft.sinks.{CheckpointSink, JdbcLayout, JdbcSink, PartitionedFileSink}
import graft.streaming.{AlertTransport, ArchiveTail, IngestAlerts, Transports, ValidatingAlerts}

/** docker-compose parity: build the whole collector from the reference's
  * environment-variable surface (docker-compose.yaml:7-27, parsed at
  * python/main.py:27-52). Deployments that ran the reference container
  * can hand their existing compose `environment:` block to [[tail]] (or
  * `sys.env` itself) and get the same wiring — config names, defaults,
  * optionality and quirks (the CORE_DIRECTORY trailing slash, hex
  * FIRST_FILE, adapter choice by S3_STORAGE_BUCKET presence) preserved.
  *
  * Everything is a pure function of the map: nothing reads global state,
  * so specs construct collectors from literal maps and prod passes
  * `sys.env`.
  */
object Deploy {

  /** BUCKET_NAME + CORE_DIRECTORY → archive root URI. The reference
    * appends a trailing '/' to a non-empty CORE_DIRECTORY
    * (python/main.py:55-56) and reads via boto3 against the bucket; here
    * any Hadoop-FS URI works, so a bare bucket name maps to `s3a://` and
    * a value containing a scheme is taken verbatim (which is also how
    * file:// fixtures and local smoke tests plug in).
    */
  def archiveRoot(env: Map[String, String]): String = {
    val base = bucketUri(env("BUCKET_NAME"))
    env.getOrElse("CORE_DIRECTORY", "").stripSuffix("/") match {
      case "" => base
      case core => s"$base/$core"
    }
  }

  /** A bucket setting as a URI: a bare bucket name maps to `s3a://`, a
    * value containing a scheme is taken verbatim.
    */
  private def bucketUri(bucket: String): String =
    if (bucket.contains("://")) bucket.stripSuffix("/") else s"s3a://$bucket"

  /** KIN_ISSUER + optional APP_ID (absent and empty both mean "no app
    * filter", like os.environ.get at python/main.py:44). A present
    * APP_ID is validated against the reference's startup check
    * (`re.match('^[A-z0-9]{4}$')` then sys.exit(1), main.py:236-239 —
    * the bug-compatible `[A-z]` class included): without it a
    * malformed id can never match any memo's 4-char app field, and the
    * collector would run forever silently committing empty checkpoints.
    */
  def extractConfig(env: Map[String, String]): ExtractConfig = {
    val appId = env.get("APP_ID").filter(_.nonEmpty)
    appId.foreach { id =>
      require(id.matches("^[A-z0-9]{4}$"),
        s"APP_ID '$id' is invalid (must match ^[A-z0-9]{4}$$ — the reference aborts at startup too)")
    }
    ExtractConfig(
      assetIssuer = env("KIN_ISSUER"),
      appId = appId)
  }

  /** FIRST_FILE is the 8-hex checkpoint name ('0000003f'); the (seq+1)%64
    * validation itself lives in the tail/stream constructors.
    */
  def firstSeq(env: Map[String, String]): Long =
    java.lang.Long.parseLong(env("FIRST_FILE"), 16)

  def maxRetries(env: Map[String, String]): Int =
    env.getOrElse("MAX_RETRIES", "5").toInt

  /** Adapter choice mirrors the reference's startup branch (main.py:
    * 369-390): a non-empty S3_STORAGE_BUCKET selects the file-layout
    * sink (`s3a://bucket/prefix`, or any explicit URI); otherwise the
    * Postgres sink from POSTGRES_HOST + PYTHON_PASSWORD (the reference's
    * fixed `python` user, build_database.py:62-66). The JDBC connection
    * is constructed lazily per checkpoint, so building the config needs
    * no driver on the classpath.
    */
  def sink(env: Map[String, String]): CheckpointSink =
    env.get("S3_STORAGE_BUCKET").filter(_.nonEmpty) match {
      case Some(bucket) =>
        val base = bucketUri(bucket)
        val root = env.getOrElse("S3_STORAGE_KEY_PREFIX", "").stripSuffix("/") match {
          case "" => base
          case prefix => s"$base/$prefix"
        }
        new PartitionedFileSink(root)
      case None =>
        val host = env("POSTGRES_HOST")
        val pass = env("PYTHON_PASSWORD")
        new JdbcSink(() =>
          java.sql.DriverManager.getConnection(s"jdbc:postgresql://$host/kin", "python", pass),
          JdbcLayout.Unified)
    }

  /** Alert legs from the same optional env the reference reads
    * (main.py:47-52): EMAIL_SMTP ('host' or 'host:port') + EMAIL_ACCOUNT
    * / EMAIL_PASSWORD / EMAIL_RECIPIENTS (comma-separated) become the
    * SMTP transport; WEBHOOK_URL (this engine's portable spelling of the
    * reference's LAMBDA_NAME pager — a Lambda invoke needs AWS SDK
    * plumbing, a function URL is just HTTP) becomes the webhook leg.
    */
  def transports(env: Map[String, String]): Seq[AlertTransport] = {
    val email = env.get("EMAIL_SMTP").filter(_.nonEmpty).map { smtp =>
      // The reference treats EMAIL_SMTP as HOST ONLY and always dials
      // SSL_PORT=465 over implicit TLS (smtplib.SMTP_SSL, main.py:59,
      // 316,352) — so a bare host gets exactly that. A 'host:port'
      // value is this engine's extension (test stubs, local relays):
      // transport security follows the standard submission ports —
      // 465 speaks TLS from byte 0, 587 demands the STARTTLS upgrade
      // (a relay that refuses it aborts startup, never a plaintext
      // downgrade), anything else is plain TCP for stubs/local relays.
      val (host, port) = smtp.split(":", 2) match {
        case Array(h, p) => (h, p.toInt)
        case _ => (smtp, 465)
      }
      val account = env.getOrElse("EMAIL_ACCOUNT", "")
      val creds = env.get("EMAIL_PASSWORD").filter(_.nonEmpty).map(p => (account, p))
      new Transports.SmtpTransport(host, port, from = account,
        to = env.getOrElse("EMAIL_RECIPIENTS", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        credentials = creds, implicitTls = port == 465, startTls = port == 587)
    }
    // WEBHOOK_STRICT_PROBE=1 opts into failing startup on HEAD 404/410
    // (endpoints that answer HEAD on the hook path); default lenient —
    // POST-only routes 404 HEADs while send() works (Transports scaladoc)
    val strictProbe = env.get("WEBHOOK_STRICT_PROBE")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    val webhook = env.get("WEBHOOK_URL").filter(_.nonEmpty)
      .map(url => new Transports.WebhookTransport(url, strictPathProbe = strictProbe))
    email.toSeq ++ webhook.toSeq
  }

  /** No transports configured → Noop (alerting is optional, main.py
    * guards each leg); any configured → ValidatingAlerts, whose
    * construction-time probe aborts startup on a bad pager config
    * exactly like the reference's `__email_validation` sys.exit.
    */
  def alerts(env: Map[String, String]): IngestAlerts = {
    val ts = transports(env)
    if (ts.isEmpty) IngestAlerts.Noop else new ValidatingAlerts(ts)
  }

  /** STORE_ROOT → `spark.graft.storeRoot`: placement of the engine's
    * materialized stores (LSH signatures, ANN cell/code tables, the BPE
    * vocabulary). No reference counterpart — the reference has no
    * analytics stores — but it is deployment config of the same kind as
    * the bucket knobs above: unset, stores go to driver-local temp on
    * local masters and `<dataset>/_stores/` on a cluster; set it to any
    * Hadoop-FS URI every executor can reach to pin them explicitly. See
    * [[graft.operators.Stores]] for the resolution policy.
    */
  def applyStoreRoot(spark: SparkSession, env: Map[String, String]): Unit =
    env.get("STORE_ROOT").filter(_.nonEmpty)
      .foreach(spark.conf.set("spark.graft.storeRoot", _))

  /** Anonymous reads for the PUBLIC history archive — the reference
    * never signs archive requests: its boto3 client is built with
    * `Config(signature_version=UNSIGNED)` (python/main.py:19-21,64), so
    * a collector deployed with NO AWS credentials still reads the
    * public Kin/Stellar archive, and one deployed WITH sink credentials
    * must not have them rejected by the public bucket. The s3a analogue
    * is the per-bucket anonymous provider — PER BUCKET, so the sink
    * bucket (whose writes the reference signs with
    * `S3_STORAGE_AWS_ACCESS_KEY`/`..._SECRET_KEY`, main.py:30-34) keeps
    * the session's signed credential chain untouched. Applied whenever
    * the archive root resolves to an s3a bucket;
    * `ARCHIVE_SIGNED_REQUESTS=1` opts a PRIVATE archive mirror back
    * into the default provider chain (no reference counterpart — the
    * reference cannot read a private archive at all).
    *
    * Collision guard (r15 advice): the provider keys on BUCKET NAME, so
    * if a deployment points S3_STORAGE_BUCKET at the SAME bucket as the
    * archive, the sink's writes would silently become anonymous and
    * fail on the first checkpoint. That layout is always a
    * misconfiguration (the archive is a public read-only bucket), so
    * the anonymous provider is SKIPPED with a stderr warning — archive
    * reads then ride the signed sink chain, which a same-bucket
    * deployment necessarily has.
    */
  def applyArchiveAnonymousCreds(spark: SparkSession, env: Map[String, String]): Unit = {
    val signed = env.get("ARCHIVE_SIGNED_REQUESTS")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    val root = archiveRoot(env)
    if (!signed && root.startsWith("s3a://")) {
      val bucket = root.stripPrefix("s3a://").takeWhile(_ != '/')
      val sinkBucket = env.get("S3_STORAGE_BUCKET").filter(_.nonEmpty).map { b =>
        val base = bucketUri(b)
        if (base.startsWith("s3a://")) base.stripPrefix("s3a://").takeWhile(_ != '/')
        else "" // non-s3a sink URIs can't collide with an s3a archive bucket
      }.filter(_.nonEmpty)
      if (sinkBucket.contains(bucket))
        System.err.println(s"[deploy] WARNING: archive bucket '$bucket' equals the " +
          "sink bucket — skipping the anonymous-credentials provider so sink " +
          "writes stay signed (reads use the signed chain too)")
      else
        spark.sparkContext.hadoopConfiguration.set(
          s"fs.s3a.bucket.$bucket.aws.credentials.provider",
          "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider")
    }
  }

  /** The whole collector: `Deploy.tail(spark, sys.env).runOnce()` is
    * `python main.py`'s backfill; `.run(n)` is its polling loop.
    * `sinkOverride` lets a caller that already built (and bootstrapped)
    * the sink thread the SAME instance through the chain — see
    * [[graft.Collector.run]].
    */
  def tail(spark: SparkSession, env: Map[String, String],
      sinkOverride: Option[CheckpointSink] = None): ArchiveTail = {
    applyStoreRoot(spark, env)
    applyArchiveAnonymousCreds(spark, env)
    new ArchiveTail(spark, archiveRoot(env), env("NETWORK_PASSPHRASE"),
      extractConfig(env), sinkOverride.getOrElse(sink(env)), firstSeq(env),
      maxRetries(env), alerts = alerts(env))
  }
}

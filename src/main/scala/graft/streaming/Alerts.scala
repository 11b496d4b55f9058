package graft.streaming

/** Failure-alerting contract of the reference's ingest loop
  * (python/main.py:286-309, transport plumbing :312-366): when the next
  * checkpoint goes missing, notify ONCE per delay episode (the archive
  * may just be lagging), and notify once more — then stop — when the
  * bounded retries are exhausted.
  *
  * The reference hard-codes its transports (SES email + a Lambda); an
  * engine library exposes the hook instead and lets the deployment bind
  * it to whatever pager it uses. Callback failures are the caller's
  * problem by design — an alerting bug must not take down ingest, so
  * [[ArchiveTail]] swallows and logs exceptions thrown from these.
  */
trait IngestAlerts {
  /** First consecutive miss of `seq`: the archive is delayed. Fired once
    * per episode (python/main.py:287-292 "only sending notification on
    * 1st occurrence").
    */
  def onDelay(seq: Long): Unit = ()

  /** Retries exhausted waiting for `seq` after `attempts` misses; the
    * tail gives up after this (python/main.py:301-305 "Reached retry
    * limit. Quitting.").
    */
  def onGiveUp(seq: Long, attempts: Int): Unit = ()
}

object IngestAlerts {
  /** Default: no alerting bound. */
  object Noop extends IngestAlerts
}

/** A concrete alert channel: something that can deliver a message and
  * prove at startup that it can. The reference hard-codes two of these —
  * SMTP email (python/main.py:312-329) and a serverless function invoke
  * (python/main.py:338-341) — behind `send_notification`
  * (python/main.py:359-366); this is their shape as a binding interface.
  */
trait AlertTransport {
  /** Channel label for probe-failure diagnostics ("smtp", "pager"…). */
  def name: String

  /** Connectivity/auth self-test, run before ingest starts; throw to
    * mark the transport unusable (the reference logs in to the SMTP
    * server and `sys.exit(1)`s on auth failure, python/main.py:343-356).
    */
  def probe(): Unit = ()

  /** Deliver one alert message. */
  def send(message: String): Unit
}

object AlertTransport {
  /** The fail-fast `__email_validation` contract, shared by every
    * alert-bearing component ([[ValidatingAlerts]],
    * [[AdmissionMonitor]]): probe every transport up front and abort
    * construction on the first failure — `role` names what refuses to
    * start. One spelling, so a change to the probe contract reaches
    * every alerting path.
    */
  def probeAll(transports: Seq[AlertTransport], role: String): Unit =
    transports.foreach { t =>
      try t.probe()
      catch {
        case e: Exception => throw new IllegalStateException(
          s"alert transport '${t.name}' failed its startup probe — refusing to $role", e)
      }
    }

  /** Deliver one message to every transport; one dead pager must not
    * mute the rest (and unlike the reference, where an email exception
    * skipped the lambda, a failure here never short-circuits).
    */
  def fanOut(transports: Seq[AlertTransport], message: String): Unit =
    transports.foreach { t =>
      try t.send(message)
      catch { case _: Exception => () }
    }
}

/** Fail-fast alert binding, the `__email_validation` contract
  * (python/main.py:240-242, 343-356): every transport is probed at
  * CONSTRUCTION — i.e. before the caller can hand this to
  * [[ArchiveTail]] and start ingesting — and a probe failure propagates,
  * aborting startup exactly like the reference's `sys.exit(1)`. A
  * misconfigured pager must prevent ingest from starting; an alerting
  * outage at runtime must not take a running ingest down (ArchiveTail
  * swallows callback exceptions), which is why validation lives here
  * and not in the callbacks.
  *
  * Each episode alert fans out to every transport once
  * (`send_notification` fires all configured channels,
  * python/main.py:359-366). Unlike the reference — where an email
  * exception would skip the lambda — one transport's delivery failure
  * does not mute the others.
  */
final class ValidatingAlerts(transports: Seq[AlertTransport]) extends IngestAlerts {
  require(transports.nonEmpty,
    "ValidatingAlerts needs at least one transport (use IngestAlerts.Noop for none)")
  AlertTransport.probeAll(transports, "ingest")

  override def onDelay(seq: Long): Unit =
    AlertTransport.fanOut(transports,
      f"Reached retry limit when downloading the next ledger: $seq%08x%n" +
        "There might be a delay in the blockchain archiving bucket.")

  override def onGiveUp(seq: Long, attempts: Int): Unit =
    AlertTransport.fanOut(transports,
      f"Reached retry limit. Quitting. (ledger $seq%08x after $attempts attempts)")
}

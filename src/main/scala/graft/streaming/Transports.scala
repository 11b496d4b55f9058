package graft.streaming

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.net.{HttpURLConnection, Socket, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

/** Concrete [[AlertTransport]]s. The reference hard-codes two delivery
  * channels behind `send_notification` (python/main.py:359-366): SMTP
  * email with a login self-test (python/main.py:312-329, 343-356) and a
  * serverless-function invoke (python/main.py:338-341). These are the
  * library-shaped equivalents: an SMTP client speaking the wire protocol
  * directly (so the probe can LOG IN without sending mail, exactly the
  * reference's `__email_validation`), and a generic JSON webhook POST —
  * the portable spelling of "invoke an HTTP-addressable pager" that a
  * deployment points at its chat/incident tool or function URL.
  *
  * Both are deliberately dependency-free (java.net + java.io only) and
  * constructor-injectable enough to exercise against in-process stubs
  * (IngestSpec runs them against a local HTTP server and a scripted
  * SMTP socket).
  */
object Transports {
  /** Generic webhook: POSTs `{"text": <message>}` to `url`.
    *
    * `probe()` issues a HEAD to the same URL and passes on ANY HTTP
    * status — a response, even 405 or 404, proves DNS + routing + TLS
    * + a listening endpoint, which is all that can be checked without
    * actually paging someone (HTTP has no SMTP-style "log in but send
    * nothing" phase; a probe that POSTs a test alert would cry wolf on
    * every startup). Connect/read failures and timeouts throw.
    *
    * `strictPathProbe = true` additionally fails the probe on HEAD
    * 404/410 (a detectably dead path). It is OPT-IN because
    * method-routed endpoints — MIGRATION.md's own recommended Lambda
    * front, an API Gateway route bound to POST only — answer 404 to a
    * HEAD on a perfectly working hook path; a strict default would
    * refuse startup against a pager that works. Turn it on when the
    * endpoint answers HEAD on the hook path (Slack-style incoming
    * webhooks, most reverse proxies).
    */
  final class WebhookTransport(
      url: String,
      override val name: String = "webhook",
      connectTimeoutMs: Int = 5000,
      readTimeoutMs: Int = 10000,
      strictPathProbe: Boolean = false) extends AlertTransport {

    private def open(method: String): HttpURLConnection = {
      val c = new URI(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestMethod(method)
      c.setConnectTimeout(connectTimeoutMs)
      c.setReadTimeout(readTimeoutMs)
      c
    }

    override def probe(): Unit = {
      val c = open("HEAD")
      try {
        val status = c.getResponseCode // throws on unreachable/timeout
        // Under strictPathProbe, 404/410 prove the PATH is wrong — the
        // one misconfiguration a HEAD can detect without paging anyone;
        // passing a detectable dead path would let every later send()
        // fail into fanOut's swallow. It cannot be the default: a
        // POST-only route (API Gateway method routing) 404s HEAD while
        // send() works, and refusing to start against a working pager
        // is worse than missing the typo'd-path case.
        if (strictPathProbe && (status == 404 || status == 410))
          throw new java.io.IOException(
            s"webhook $name probe: HTTP $status (dead path?) for $url")
      } finally c.disconnect()
    }

    override def send(message: String): Unit = {
      val c = open("POST")
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json; charset=utf-8")
      try {
        val body = s"""{"text":"${graft.Jsons.escape(message)}"}""".getBytes(UTF_8)
        val out = c.getOutputStream
        try out.write(body) finally out.close()
        val status = c.getResponseCode
        if (status >= 300)
          throw new java.io.IOException(s"webhook $name returned HTTP $status")
      } finally c.disconnect()
    }
  }

  /** Minimal SMTP client (RFC 5321 command phase; no extensions beyond
    * AUTH LOGIN). `probe()` connects, greets, authenticates when
    * credentials are given, and QUITs without sending mail — the
    * reference's `__email_validation` login check (python/main.py:
    * 343-356, which `sys.exit(1)`s on auth failure; here the throw
    * propagates through [[ValidatingAlerts]] and aborts startup the
    * same way). `send` runs the full MAIL FROM/RCPT TO/DATA exchange.
    *
    * Transport security: `implicitTls = true` speaks TLS from byte 0 —
    * the reference's `smtplib.SMTP_SSL(EMAIL_SMTP, SSL_PORT=465,
    * context=ssl.create_default_context())` (python/main.py:316,352) —
    * with endpoint identification ON (hostname/SAN verification, the
    * `check_hostname=True` half of `create_default_context`).
    * `sslContext` injects trust for tests (a self-signed stub cert);
    * None uses the platform default trust store, like the reference.
    * `startTls = true` is the port-587 upgrade-in-band leg (RFC 3207):
    * plain greeting + EHLO, `STARTTLS`, TLS handshake on the same
    * socket (same endpoint identification as the implicit leg), then a
    * SECOND EHLO — §4.2 resets protocol state across the handshake —
    * with AUTH only ever inside the tunnel. The upgrade is demanded,
    * not negotiated: a server that refuses STARTTLS fails the session
    * loudly (probe/startup abort) — never a silent plaintext
    * downgrade, which is the classic STARTTLS-stripping attack shape.
    * Plain TCP (`implicitTls = false, startTls = false`) remains for
    * in-process stubs and trusted-network relays.
    */
  final class SmtpTransport(
      host: String,
      port: Int,
      from: String,
      to: Seq[String],
      credentials: Option[(String, String)] = None,
      subject: String = "history-collector alert",
      override val name: String = "smtp",
      timeoutMs: Int = 10000,
      implicitTls: Boolean = false,
      sslContext: Option[javax.net.ssl.SSLContext] = None,
      allowPlaintextAuth: Boolean = false,
      startTls: Boolean = false) extends AlertTransport {
    require(to.nonEmpty, "SmtpTransport needs at least one recipient")
    require(!(implicitTls && startTls),
      s"smtp $name: implicitTls and startTls are mutually exclusive " +
        "(TLS-from-byte-0 on 465 vs upgrade-in-band on 587)")
    // AUTH LOGIN is base64, not encryption: credentials over plain TCP
    // hand the password to any passive observer, and implicitTls=false
    // is the DEFAULT — exactly the misconfiguration shape (set the
    // creds, forget the TLS flag). The reference always authenticates
    // over SMTP_SSL; plaintext auth here needs the explicit opt-in
    // (in-process test stubs, localhost relays). startTls counts as
    // transport security: AUTH runs strictly after the handshake.
    require(credentials.isEmpty || implicitTls || startTls || allowPlaintextAuth,
      s"smtp $name: credentials over plain TCP need allowPlaintextAuth=true " +
        "(or implicitTls/startTls — the encrypted legs)")

    /** One scripted SMTP session: connect, greet, auth, run `body`, QUIT. */
    private def session[A](body: (BufferedReader, OutputStreamWriter) => A): A = {
      // connect with an explicit timeout: `new Socket(host, port)` blocks
      // indefinitely on a SYN blackhole (setSoTimeout only bounds reads
      // AFTER connect), which would hang probe() — and therefore
      // ValidatingAlerts startup — on an unresponsive SMTP host
      val sock = new Socket()
      try {
        sock.connect(new java.net.InetSocketAddress(host, port), timeoutMs)
        sock.setSoTimeout(timeoutMs)
        // TLS wrap of the (connected) socket, shared by both encrypted
        // legs: endpoint identification ON (hostname/SAN verification),
        // and the handshake inherits the plain socket's soTimeout, so a
        // silent TLS peer cannot hang the startup probe.
        def tlsWrap(): Socket = {
          val factory = sslContext.getOrElse(javax.net.ssl.SSLContext.getDefault)
            .getSocketFactory
          val ssl = factory.createSocket(sock, host, port, true)
            .asInstanceOf[javax.net.ssl.SSLSocket]
          val params = ssl.getSSLParameters
          params.setEndpointIdentificationAlgorithm("HTTPS")
          ssl.setSSLParameters(params)
          ssl.startHandshake()
          ssl
        }
        // implicit TLS wraps before the first SMTP byte (the 220
        // greeting arrives encrypted), like SMTP_SSL
        val chan: Socket = if (implicitTls) tlsWrap() else sock
        var in = new BufferedReader(new InputStreamReader(chan.getInputStream, UTF_8))
        var out = new OutputStreamWriter(chan.getOutputStream, UTF_8)
        expect(in, "220") // server greeting
        // EHLO first: AUTH is an ESMTP extension (RFC 4954) that
        // compliant servers reject inside a HELO session; fall back to
        // HELO for non-ESMTP peers — smtplib's ehlo_or_helo_if_needed,
        // which is what the reference's login() does under the hood
        def ehlo(): Unit = {
          out.write("EHLO graft\r\n"); out.flush()
          if (!reply(in).startsWith("250")) command(in, out, "HELO graft", "250")
        }
        ehlo()
        if (startTls) {
          // DEMAND the upgrade: anything but 220 throws — refusing a
          // plaintext fallback is the whole point of the flag
          command(in, out, "STARTTLS", "220")
          val ssl = tlsWrap()
          in = new BufferedReader(new InputStreamReader(ssl.getInputStream, UTF_8))
          out = new OutputStreamWriter(ssl.getOutputStream, UTF_8)
          // RFC 3207 §4.2: both sides reset to initial state after the
          // handshake — re-EHLO and discard pre-TLS server knowledge
          ehlo()
        }
        credentials.foreach { case (user, pass) =>
          command(in, out, "AUTH LOGIN", "334")
          command(in, out, Base64.getEncoder.encodeToString(user.getBytes(UTF_8)), "334")
          command(in, out, Base64.getEncoder.encodeToString(pass.getBytes(UTF_8)), "235")
        }
        val result = body(in, out)
        command(in, out, "QUIT", "221")
        result
      } finally sock.close()
    }

    private def command(in: BufferedReader, out: OutputStreamWriter,
        line: String, wantPrefix: String): Unit = {
      out.write(line + "\r\n"); out.flush()
      expect(in, wantPrefix)
    }

    /** Consume one (possibly multi-line) reply, returning its final
      * line: "250-..." continues, "250 ..." ends.
      */
    private def reply(in: BufferedReader): String = {
      var line = in.readLine()
      while (line != null && line.length >= 4 && line.charAt(3) == '-')
        line = in.readLine()
      if (line == null) "" else line
    }

    private def expect(in: BufferedReader, wantPrefix: String): Unit = {
      val line = reply(in)
      if (!line.startsWith(wantPrefix))
        throw new java.io.IOException(
          s"smtp $name: expected $wantPrefix, got '$line'")
    }

    override def probe(): Unit = session { (_, _) => () }

    override def send(message: String): Unit = session { (in, out) =>
      command(in, out, s"MAIL FROM:<$from>", "250")
      to.foreach(r => command(in, out, s"RCPT TO:<$r>", "250"))
      command(in, out, "DATA", "354")
      val headers = Seq(
        s"From: $from",
        s"To: ${to.mkString(", ")}",
        s"Subject: $subject",
        "")
      // dot-stuffing (RFC 5321 §4.5.2): a body line starting with '.'
      // gets one prepended, or the server would read it as end-of-data.
      // Line splitting normalizes CRLF and bare CR too (smtplib's
      // quotedata): splitting on '\n' alone leaves a trailing '\r'
      // on CRLF-separated messages (e.g. %n on a Windows driver),
      // emitting the bare-CR sequences RFC 5321 §2.3.8 forbids.
      val body = message.split("\r\n|\n|\r", -1).map { l =>
        if (l.startsWith(".")) "." + l else l
      }
      (headers ++ body).foreach(l => out.write(l + "\r\n"))
      command(in, out, ".", "250")
    }
  }
}

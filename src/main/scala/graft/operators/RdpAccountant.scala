package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Rényi-DP accountant for SUBSAMPLED Gaussian releases — the
  * graduation path x60's scaladoc names: the amplification-lemma pair
  * (ln(1 + q(e^{ε₀}−1)), q·δ₀) composed K-fold as (K·ε', K·δ') is valid
  * but LINEAR in K, while the Rényi curve composes order-by-order and
  * converts to (ε, δ) once at read time, landing ~√K-shaped — at the
  * x60 defaults (q = ½, σ = [[Privacy.SubGaussSigma]]) a K = 16
  * schedule reads ε ≈ 2.19 at δ = 1e-6 against basic composition's
  * 16 × 0.620 ≈ 9.92 (the x61 gate table EXHIBITS the comparison;
  * PrivacySpec pins it as an executable experiment). This is the
  * accountant DP-SGD pipelines actually run (TF-Privacy / Opacus run
  * this exact integer-order computation).
  *
  * MATH (all public literature, implemented from the statements):
  *  - RDP of the Poisson-subsampled Gaussian at integer order α ≥ 2
  *    (Mironov–Talwar–Zhang 2019, "Rényi Differential Privacy of the
  *    Sampled Gaussian Mechanism", §3: the binomial expansion of
  *    A_α = E_{μ0}[(μ/μ0)^α] for the mixture μ = (1−q)μ0 + qμ1, using
  *    E_{μ0}[(μ1/μ0)^k] = exp(k(k−1)/(2σ²)); A_α bounds B_α so the max
  *    in their Thm. 5 is A_α):
  *
  *      RDP(α) = ln( Σ_{k=0}^{α} C(α,k)(1−q)^{α−k} q^k
  *                     · e^{k(k−1)/(2σ²)} ) / (α−1)
  *
  *  - Composition: RDP adds linearly per order across releases
  *    (Mironov 2017, Prop. 1).
  *  - Conversion: (α, rdp) ⇒ (rdp + ln(1/δ)/(α−1), δ), minimized over
  *    the order grid (Mironov 2017, Prop. 3 — the classical bound;
  *    tighter conversions exist, Balle et al. 2020 / Canonne–Kamath–
  *    Steinke 2020, and would only LOWER the readout, so the classical
  *    one is the conservative choice).
  *
  * DETERMINISM (the x10 libm discipline, so the x61 gate's DuckDB
  * oracle replays the identical arithmetic): the binomial sum runs as
  * the term recurrence u_0 = 1, u_{k+1} = u_k · ((α−k)/(k+1)) ·
  * (q/(1−q)) · exp(k/σ²), S = (1−q)^α Σ u_k — every `exp`/`ln` result
  * is rounded to 9 decimals (HALF_UP) and everything else is IEEE
  * double arithmetic both engines perform bit-identically; `(1−q)^α`
  * enters through logs (α·ln9(1−q)) so no engine ever calls `pow`.
  * Terms peak near C(64,32)·e^{17.7} ≈ 8.6e25 — comfortably inside
  * double range for the capped order grid.
  *
  * ORDER GRID: integer α ∈ [2, 64] ([[RdpAccountant.Orders]]), the
  * standard accountant grid shape (Opacus defaults to a superset).
  * The conversion minimum is taken over this grid, so the readout is
  * an upper bound — capping the grid can only report MORE spend, never
  * less. With zero charges the readout is exactly 0 (special-cased:
  * the grid-capped conversion of the zero vector would read the
  * spurious floor ln(1/δ)/63).
  *
  * REGISTRY (the [[DpLedger]] discipline, applied verbatim): a
  * driver-local fsync'd append-only TSV of (seq, release_id, q, sigma)
  * rows under `dir` — release-count-sized, never corpus-shaped — with
  * the same exclusive `FileChannel.tryLock` single-writer tripwire and
  * the same charge-then-release contract: [[charge]] refuses (typed
  * [[DpLedger.BudgetRefused]], nothing appended, totals unchanged)
  * when the ε readout at [[deltaTarget]] would exceed [[epsBudget]]
  * after the proposal. q and σ persist as shortest-repr decimal
  * strings (exact double round-trip), and per-order totals are
  * recomputed from the rows at load as exact-9-decimal BigDecimal sums
  * — a reopened accountant's verdicts are bit-identical to the writer's
  * regardless of charge order or float accumulation. `epsBudget` and
  * `deltaTarget` are caller config like [[DpLedger]]'s budget — they
  * are not persisted; reopening under a different target re-reads the
  * same Rényi curve at the new δ.
  *
  * The registry carries release ids and (q, σ) parameters — public
  * schedule state, shippable as audit evidence under the same caveat
  * as [[DpLedger]]'s (only if the schedule itself is public).
  */
final class RdpAccountant private (val dir: String,
    val epsBudget: BigDecimal, val deltaTarget: Double) {
  import RdpAccountant._

  private val file = new java.io.File(dir, "rdp.tsv")

  // single-writer tripwire — DpLedger's lock acquisition verbatim (any
  // failure closes the RAF before rethrowing)
  private val lockRaf =
    new java.io.RandomAccessFile(new java.io.File(dir, "rdp.lock"), "rw")
  private val lock: java.nio.channels.FileLock = {
    val l =
      try lockRaf.getChannel.tryLock()
      catch {
        case _: java.nio.channels.OverlappingFileLockException => null
        case e: Throwable => lockRaf.close(); throw e
      }
    if (l == null) {
      lockRaf.close()
      throw new IllegalStateException(
        s"accountant directory $dir is already open by another " +
          "RdpAccountant instance (budget accounting must have exactly " +
          "one writer); close() the other instance first")
    }
    l
  }
  @volatile private var closed = false

  // (seq, release_id, q, sigma) in charge order; append-only. Loaded
  // AFTER the lock is taken; a parse failure releases it on the way out.
  private var charges: Vector[(Long, String, Double, Double)] =
    if (!file.exists()) Vector.empty
    else try {
      val src = scala.io.Source.fromFile(file, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map { line =>
        line.split("\t", -1) match {
          case Array(seq, id, q, sigma) =>
            (seq.toLong, id, q.toDouble, sigma.toDouble)
          case _ => sys.error(s"corrupt accountant line in $file: '$line'")
        }
      }.toVector
      finally src.close()
    } catch { case e: Throwable => close(); throw e }

  // per-order Rényi totals as EXACT decimal sums of the 9-decimal
  // per-release values — recomputed from (q, σ) rows, so reload cannot
  // drift a verdict
  private var totals: Vector[BigDecimal] =
    charges.foldLeft(Vector.fill(Orders.length)(BigDecimal(0))) {
      case (t, (_, _, q, sigma)) => addRelease(t, q, sigma)
    }

  private def addRelease(t: Vector[BigDecimal], q: Double,
      sigma: Double): Vector[BigDecimal] =
    Orders.zip(t).map { case (a, v) =>
      v + BigDecimal(rdpSampledGaussian(q, sigma, a))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }

  /** Number of admitted charges. */
  def size: Int = synchronized(charges.length)

  /** The ε readout of everything admitted so far, at [[deltaTarget]]:
    * min over the order grid of total(α) + ln9(1/δ)/(α−1); exactly 0
    * with no charges (see the grid-cap note in the class doc).
    */
  def spentEpsilon: Double = synchronized {
    if (charges.isEmpty) 0.0 else epsilonAt(totals, deltaTarget)
  }

  /** Charge one subsampled-Gaussian release (sampling rate `q`, noise
    * `sigma`): true = admitted (row durably appended, totals updated),
    * false = refused because the ε readout at [[deltaTarget]] would
    * exceed [[epsBudget]] (nothing written — a later charge with a
    * smaller Rényi footprint may still be admitted). Invalid
    * parameters are a CALLER BUG and throw before anything is checked.
    */
  def tryCharge(releaseId: String, q: Double, sigma: Double): Boolean =
    synchronized {
      require(!closed, s"accountant at $dir is closed")
      require(q > 0 && q < 1, s"need 0 < q < 1, got $q")
      require(sigma > 0, s"need sigma > 0, got $sigma")
      require(!releaseId.contains("\t") && !releaseId.contains("\n"),
        "release_id must not contain tab or newline (TSV registry)")
      val after = addRelease(totals, q, sigma)
      if (BigDecimal(epsilonAt(after, deltaTarget)) > epsBudget) false
      else {
        val seq = charges.length + 1L
        val line = s"$seq\t$releaseId\t$q\t$sigma\n"
        val out = new java.io.FileOutputStream(file, true)
        try { out.write(line.getBytes("UTF-8")); out.getFD.sync() }
        finally out.close()
        charges = charges :+ ((seq, releaseId, q, sigma))
        totals = after
        true
      }
    }

  /** [[tryCharge]] that THROWS the typed [[DpLedger.BudgetRefused]] on
    * refusal — the spelling release functions call, so a refused
    * release never returns a frame. Returns the new ε readout on admit.
    */
  def charge(releaseId: String, q: Double, sigma: Double): Double =
    synchronized {
      if (!tryCharge(releaseId, q, sigma)) {
        val after = epsilonAt(addRelease(totals, q, sigma), deltaTarget)
        throw new DpLedger.BudgetRefused(
          s"RDP budget exhausted: epsilon(delta=$deltaTarget) would read " +
            s"$after > budget=$epsBudget after release '$releaseId' " +
            s"(q=$q, sigma=$sigma) — refused")
      }
      spentEpsilon
    }

  /** The registry as a frame (seq, release_id, q, sigma, eps_after):
    * `eps_after` replays the readout after each prefix — the audit
    * view a schedule consumer reads, [[Privacy.dpBudgetLedger]]'s
    * cumulative-column shape at the Rényi currency.
    */
  def registry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = synchronized {
      var t = Vector.fill(Orders.length)(BigDecimal(0))
      charges.map { case (seq, id, q, sigma) =>
        t = addRelease(t, q, sigma)
        (seq, id, q, sigma, epsilonAt(t, deltaTarget))
      }
    }
    rows.toDF("seq", "release_id", "q", "sigma", "eps_after")
  }

  /** Release the single-writer lock; further charges refuse. Idempotent. */
  def close(): Unit = synchronized {
    if (!closed) {
      closed = true
      try lock.release() finally lockRaf.close()
    }
  }
}

object RdpAccountant {

  /** The integer order grid α ∈ [2, 64] (see the grid-cap note). */
  val Orders: Vector[Int] = (2 to 64).toVector

  private def r9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** RDP of one Poisson-subsampled Gaussian release at integer order
    * `alpha` — the MTZ binomial sum via the term recurrence, under the
    * round-to-9 libm discipline (class doc carries the derivation and
    * the cross-engine determinism argument; the x61 oracle replays
    * this exact arithmetic as a DuckDB recursive CTE).
    */
  def rdpSampledGaussian(q: Double, sigma: Double, alpha: Int): Double = {
    require(alpha >= 2, s"integer orders start at 2, got $alpha")
    require(q > 0 && q < 1, s"need 0 < q < 1, got $q")
    require(sigma > 0, s"need sigma > 0, got $sigma")
    val r = q / (1.0 - q)
    var u = 1.0
    var s = 1.0
    var k = 0
    while (k < alpha) {
      u = u * ((alpha - k) / (k + 1.0)) * r * r9(math.exp(k / (sigma * sigma)))
      s = s + u
      k += 1
    }
    r9((alpha * r9(math.log(1.0 - q)) + r9(math.log(s))) / (alpha - 1))
  }

  /** Convert per-order Rényi totals to ε at `delta`: min over the grid
    * of total(α) + ln9(1/δ)/(α−1) (Mironov 2017, Prop. 3).
    */
  private[operators] def epsilonAt(totals: Vector[BigDecimal],
      delta: Double): Double = {
    require(delta > 0 && delta < 1, s"need 0 < delta < 1, got $delta")
    val lnInv = r9(math.log(1.0 / delta))
    Orders.zip(totals).map { case (a, t) =>
      t.toDouble + lnInv / (a - 1)
    }.min
  }

  /** Open (or create) the accountant at `dir` with the ε budget
    * enforced at the `deltaTarget` readout. Reopening an existing
    * directory resumes the accounting exactly — and fails loudly if
    * another instance holds it open.
    */
  def open(dir: String, epsBudget: BigDecimal,
      deltaTarget: Double = 1e-6): RdpAccountant = {
    require(epsBudget > 0, s"epsBudget must be positive, got $epsBudget")
    require(deltaTarget > 0 && deltaTarget < 1,
      s"need 0 < deltaTarget < 1, got $deltaTarget")
    val d = new java.io.File(dir)
    if (!d.exists()) require(d.mkdirs(), s"cannot create accountant dir $dir")
    new RdpAccountant(dir, epsBudget, deltaTarget)
  }
}

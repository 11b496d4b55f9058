package perfbench

/** The small numeric helpers every metric goes through. */
object Stats {

  /** Percentile `p` in [0, 100] by linear interpolation between closest
    * ranks (the `numpy.percentile` default). NaN on no samples.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** `num / den`, or 0 when nothing was attempted. */
  def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den

  /** Total length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Program module that owns a Spark job, from the job's call site
    * (Spark's `callSite.short`, e.g. "save at Sinks.scala:108"): the
    * layer names of this repository's source tree.
    */
  def module(callSite: String): String = {
    val file = Option(callSite).map(_.trim).getOrElse("")
      .split(" at ").lastOption.getOrElse("").split(':').head
    file match {
      case "Archive.scala" | "ArchiveStream.scala" => "sources"
      case "Stellar.scala" | "Xdr.scala" | "StellarWriter.scala" => "xdr"
      case "Extract.scala" | "Model.scala" => "pipeline"
      case "Sinks.scala" => "sinks"
      case "ArchiveTail.scala" => "streaming"
      case "HttpServe.scala" | "Facade.scala" => "serve"
      case "Engine.scala" => "engine"
      case _ => "other"
    }
  }
}

package perfbench

/** Latency summaries and the compact JSON the harness prints. */
object Stats {

  /** A nearest-rank percentile over `samples` ops, of which `tail` lie
    * strictly above the reported one. */
  final case class Pct(value: Double, samples: Int, tail: Int)

  /** Nearest-rank percentile `q` of the successful ops' values, with
    * each failed op counted as +inf (so failures can only raise it). */
  def percentile(ok: Seq[Double], failed: Int, q: Double): Pct = {
    val n = ok.size + failed
    require(n > 0, "percentile of no samples")
    require(q > 0 && q <= 1, s"percentile q=$q")
    val sorted = ok.sorted
    val rank = math.max(1, math.ceil(q * n - 1e-9).toInt)
    val v = if (rank <= sorted.size) sorted(rank - 1) else Double.PositiveInfinity
    Pct(v, n, n - rank)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Minimal JSON rendering for maps, sequences, strings and numbers.
    * Non-finite doubles (a percentile landing on a failed op) render as
    * the largest finite double so the line stays valid JSON. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN) "null"
      else if (d.isInfinite) (if (d > 0) Double.MaxValue else -Double.MaxValue).toString
      else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

package indexbench

/** Order statistics over latency samples, and a minimal JSON writer. */
object Stats {

  /** The q-quantile (0 < q < 1) by linear interpolation between closest
    * ranks; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Whether a sample of `n` holds at least ten values beyond its
    * q-quantile — the rule every reported percentile must meet. */
  def supports(n: Int, q: Double): Boolean = n * (1.0 - q) >= 10.0

  /** Least-squares slope of ys over 0, 1, 2, ... (NaN below two points). */
  def slope(ys: Seq[Double]): Double =
    if (ys.size < 2) Double.NaN
    else {
      val n = ys.size
      val mx = (n - 1) / 2.0
      val my = ys.sum / n
      val num = ys.indices.map(i => (i - mx) * (ys(i) - my)).sum
      val den = ys.indices.map(i => (i - mx) * (i - mx)).sum
      num / den
    }
}

object Json {
  /** Render maps, [[Obj]]s (keys in the order given), sequences, strings,
    * booleans and numbers. Non-finite numbers become null. */
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case Obj(kvs) => kvs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  /** An object whose keys keep the order they were given in. */
  final case class Obj(kvs: Seq[(String, Any)])

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

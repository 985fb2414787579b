package perfbench

/** Order statistics and the tiny JSON writer the harness needs. */
object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def nowNs: Long = System.nanoTime()
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timeMs[T](f: => T): (T, Double) = {
    val t0 = nowNs
    val r = f
    (r, msSince(t0))
  }

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => jsonString(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => jsonValue(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => jsonString(k.toString) + ":" + jsonValue(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(jsonValue).mkString("[", ",", "]")
    case other => jsonString(other.toString)
  }
}

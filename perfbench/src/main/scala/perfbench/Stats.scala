package perfbench

object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile ((n-1)p), 0 for an empty sample. */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.length - 1) * p
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest whole percentile with at least `beyond` samples above it
    * (p = 1 - beyond/n, floored to a percent). With too few samples for
    * any, the maximum: percentile 100.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Int) =
    if (xs.length <= beyond) (xs.maxOption.getOrElse(0.0), 100)
    else {
      val pct = math.floor(100.0 * (1.0 - beyond.toDouble / xs.length)).toInt
      (quantile(xs, pct / 100.0), pct)
    }

  /** Length of the union of `intervals` clipped to [from, to]. */
  def coveredNs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var covered = 0L
    var cs = -1L
    var ce = -1L
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
    if (ce > cs) covered += ce - cs
    covered
  }

  /** Self time of each layer: each span's duration minus the part of its
    * interval its children cover, summed per layer.
    */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        (s.endNs - s.startNs - coveredNs(kids, s.startNs, s.endNs)) / 1e9
      }.sum
    }
  }
}

/** Minimal JSON rendering (no dependency beyond the JDK). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
  }
}

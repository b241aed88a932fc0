package perfbench

/** Summary statistics over latency samples. */
object Stats {
  /** Nearest-rank percentile of `xs` (non-empty), `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail: the highest whole percentile whose nearest-rank value has
    * at least `beyond` samples above its rank, as (percentile, value).
    * None when no percentile above the median qualifies, which is the
    * case up to 2 * `beyond` samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val n = xs.size
    (99 until 50 by -1)
      .find(p => n - math.ceil(p / 100.0 * n).toInt >= beyond)
      .map(p => (p, percentile(xs, p)))
  }
}

/** A latency series with its summary, as the record prints it. */
final case class Series(name: String, samples: Seq[Double]) {
  def p50: Double = Stats.median(samples)
  def json: Json.Obj = {
    val t = Stats.tail(samples)
    Json.Obj(Seq(
      "n" -> Json.Num(samples.size),
      "p50_s" -> (if (samples.isEmpty) Json.Null else Json.Num(p50)),
      "tail_pct" -> t.map(x => Json.Num(x._1)).getOrElse(Json.Null),
      "tail_s" -> t.map(x => Json.Num(x._2)).getOrElse(Json.Null),
      "samples_s" -> Json.Arr(samples.map(Json.Num))))
  }
}

/** Minimal JSON values: enough to print the result records. */
object Json {
  sealed trait V { def render: String }
  case object Null extends V { def render = "null" }
  final case class Bool(b: Boolean) extends V { def render = b.toString }
  final case class Num(d: Double) extends V {
    def render: String =
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else java.lang.Double.toString(d)
  }
  final case class Str(s: String) extends V {
    def render: String = {
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
  final case class Arr(xs: Seq[V]) extends V {
    def render: String = xs.map(_.render).mkString("[", ", ", "]")
  }
  final case class Obj(kv: Seq[(String, V)]) extends V {
    def render: String = kv.map { case (k, v) => Str(k).render + ": " +
      v.render }.mkString("{", ", ", "}")
  }
  def obj(kv: (String, V)*): Obj = Obj(kv)
  def num(m: Map[String, Double]): Obj =
    Obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Num(v) })
}

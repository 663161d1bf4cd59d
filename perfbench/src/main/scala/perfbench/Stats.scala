package perfbench

/** Pure helpers of the harness: the percentile rule, the seeded row
  * order, span self time and a locale-independent JSON writer. */
object Stats {

  /** Fewest rows a workload may have: p75 then has at least three rows
    * beyond it (see [[ranksAbove]]). */
  val MinRows = 12

  /** The q-quantile of `xs` by linear interpolation between closest ranks
    * (numpy's default, Hyndman–Fan type 7). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.ceil(h).toInt
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** How many of `n` samples rank strictly above the q-quantile's
    * (fractional) position: the tail the quantile is robust against. */
  def ranksAbove(n: Int, q: Double): Int = n - 1 - math.floor((n - 1) * q).toInt

  /** The timed-pass order: `rows` shuffled by `seed`. `scala.util.Random`
    * is `java.util.Random` underneath, whose sequence the JDK specifies, so
    * a seed gives the same order on every JVM. */
  def order[A](rows: Seq[A], seed: Long): Seq[A] =
    new scala.util.Random(seed).shuffle(rows)

  /** Length of `span` not covered by any of `children` (each clipped to
    * the span; overlapping children are counted once). */
  def selfTime(span: (Double, Double), children: Seq[(Double, Double)]): Double = {
    val (s0, s1) = span
    val clipped = children
      .map { case (a, b) => (math.max(a, s0), math.min(b, s1)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (!curB.isNaN) covered += curB - curA
    math.max(0.0, (s1 - s0) - covered)
  }

  /** Minimal JSON rendering. Numbers use `Double.toString`/`Long.toString`,
    * which ignore the default locale, so output never depends on it. */
  object Json {
    def str(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => "\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt)
      case c => c.toString
    }.mkString("\"", "", "\"")

    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

    def render(v: Any): String = v match {
      case null | None => "null"
      case Some(x) => render(x)
      case s: String => str(s)
      case b: Boolean => b.toString
      case i: Int => i.toString
      case l: Long => l.toString
      case d: Double => num(d)
      case Obj(fields @ _*) =>
        fields.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
      case m: Map[_, _] => render(Obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1): _*))
      case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
      case other => str(other.toString)
    }
  }

  /** A JSON object whose keys keep the given order. */
  final case class Obj(fields: (String, Any)*)
}

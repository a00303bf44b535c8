package perfbench

/** Order statistics as the benchmark reports them: a value with its
  * sample count and quartiles. */
final case class Stat(value: Double, n: Int, q1: Double, q3: Double)

object Stat {
  /** A single measured figure (a ratio, a size): n = 1, no spread. */
  def one(v: Double): Stat = Stat(v, 1, v, v)

  val absent: Stat = Stat(0.0, 0, 0.0, 0.0)

  /** Linear-interpolated quantile of sorted values (p in [0, 1]). */
  def quantile(sorted: IndexedSeq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val h = (sorted.length - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
    }

  /** Percentile `p` of `xs`, with the quartiles of `xs` as its spread. */
  def pct(xs: Iterable[Double], p: Double): Stat = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) absent
    else Stat(quantile(s, p), s.length, quantile(s, 0.25), quantile(s, 0.75))
  }

  def median(xs: Iterable[Double]): Stat = pct(xs, 0.5)

  /** Mean of `xs`, with their quartiles as spread. */
  def mean(xs: Iterable[Double]): Stat = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) absent
    else Stat(s.sum / s.length, s.length, quantile(s, 0.25), quantile(s, 0.75))
  }
}

/** JSON writing for the harness's records (Jackson, with its Scala
  * module for maps, sequences, options and case classes). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
}

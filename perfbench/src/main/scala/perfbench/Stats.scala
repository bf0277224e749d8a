package perfbench

/** Order statistics. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile that still has at least ten samples beyond it:
    * the 11th-largest value. Samples with fewer than 11 values have no such
    * percentile; their maximum is reported instead.
    */
  def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length <= 10) s.last else s(s.length - 11)
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.filter(s => s._2 > s._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Jackson trees for the result line and the artifact. */
object Json {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}

  val mapper = new ObjectMapper()
  private val f = JsonNodeFactory.instance

  def obj(fields: (String, Any)*): ObjectNode = {
    val o = f.objectNode()
    fields.foreach { case (k, v) => o.set[JsonNode](k, node(v)) }
    o
  }

  /** Scala values as JSON: maps become objects (keys sorted), other
    * collections arrays, and a NaN or infinite double null.
    */
  def node(v: Any): JsonNode = v match {
    case n: JsonNode => n
    case d: Double => if (d.isNaN || d.isInfinite) f.nullNode() else f.numberNode(d)
    case l: Long => f.numberNode(l)
    case i: Int => f.numberNode(i)
    case b: Boolean => f.booleanNode(b)
    case s: String => f.textNode(s)
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1): _*)
    case xs: Iterable[_] =>
      val a = f.arrayNode(); xs.foreach(x => a.add(node(x))); a
  }
}

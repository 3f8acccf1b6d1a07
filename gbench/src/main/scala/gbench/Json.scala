package gbench

/** The benchmark's JSON emitter. Numbers keep every digit of their
  * double value; NaN and ±Infinity, which JSON has no literal for, are
  * written as the quoted strings "NaN", "Infinity" and "-Infinity" so
  * the line always parses. */
object Json {

  def num(d: Double): String =
    if (d.isNaN) "\"NaN\""
    else if (d == Double.PositiveInfinity) "\"Infinity\""
    else if (d == Double.NegativeInfinity) "\"-Infinity\""
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** Maps keep their iteration order (pass a ListMap or SeqMap for a
    * fixed key order). */
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case s: String => str(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** The result line: outcome counts plus each metric with its unit. */
  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[(String, Double, String)]): String =
    render(scala.collection.immutable.ListMap(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map {
        case (name, value, unit) => name -> scala.collection.immutable
          .ListMap("value" -> value, "unit" -> unit)
      }: _*)))
}

package perfbench

import org.apache.spark.sql.Row

/** Canonical text of collected rows: values rendered exactly (binary as
  * hex, maps with sorted entries), rows sorted, so two results compare
  * equal exactly when they hold the same multiset of rows. */
object Canon {
  def value(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${value(k)}->${value(x)}" }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case x => x.toString
  }

  def rows(rs: Array[Row]): String = rs.map(value).sorted.mkString("\n")
}

/** Minimal JSON rendering for the run's result and trace files. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}: ${value(x)}" }
        .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case a: Array[_] => value(a.toSeq)
    case x => quote(x.toString)
  }

  def obj(kv: (String, Any)*): String = value(scala.collection.immutable
    .ListMap(kv: _*))

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

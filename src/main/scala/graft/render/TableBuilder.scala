package graft.render

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}

/** K1: ASCII table sink with the reference's exact format
  * (TableBuilder.java:15-81): `+---+` borders, column 0 left-aligned,
  * all other columns right-aligned, widths = max over header and rows.
  * Driver-side presentation over collect()ed report rows — deliberately
  * not a Spark operator (report outputs are tiny by construction). */
final class TableBuilder {
  private var header: Seq[String] = Nil
  private val rows = ArrayBuffer[Seq[String]]()

  def setHeader(cols: String*): TableBuilder = { header = cols; this }
  def addRow(cols: String*): TableBuilder = { rows += cols; this }

  override def toString: String = {
    val all = header +: rows.toSeq
    val nCols = all.map(_.size).max
    val widths = (0 until nCols).map { i =>
      all.map(r => if (i < r.size) r(i).length else 0).max
    }
    val border = widths.map("-" * _).mkString("+-", "-+-", "-+")
    def fmt(r: Seq[String]): String =
      widths.zipWithIndex.map { case (w, i) =>
        val v = if (i < r.size) r(i) else ""
        if (i == 0) v.padTo(w, ' ') // col 0 left-aligned (TableBuilder.java:68-75)
        else " " * (w - v.length) + v
      }.mkString("| ", " | ", " |")
    val sb = new StringBuilder
    sb.append(border).append('\n')
    sb.append(fmt(header)).append('\n')
    sb.append(border).append('\n')
    rows.foreach(r => sb.append(fmt(r)).append('\n'))
    sb.append(border).append('\n')
    sb.toString
  }
}

object TableBuilder {
  val MaxRows = 1000

  /** Render a (small, already-aggregated) report DataFrame. */
  def render(df: DataFrame, maxRows: Int = MaxRows): String =
    render(df.columns.toSeq, df.limit(maxRows).collect().toSeq)

  /** Render rows already collected under `header`. */
  def render(header: Seq[String], rows: Seq[Row]): String = {
    val tb = new TableBuilder().setHeader(header: _*)
    rows.foreach(r =>
      tb.addRow(r.toSeq.map(v => if (v == null) "" else v.toString): _*))
    tb.toString
  }
}

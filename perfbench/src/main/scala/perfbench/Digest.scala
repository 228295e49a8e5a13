package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Output digests that ignore row order and partitioning: columns are
  * taken in name order, every cell is rendered canonically (doubles at 9
  * decimals, -0.0 as 0, maps by key), rows are sorted, and the sorted
  * rows are hashed. Array order is kept — it is part of a value. */
object Digest {
  def cell(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) d.toString
      else {
        val b = BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN)
        if (b.signum == 0) "0" else b.bigDecimal.stripTrailingZeros.toPlainString
      }
    case f: Float => cell(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => cell(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) -> cell(x) }.sorted
        .map { case (k, x) => s"$k:$x" }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case o => o.toString
  }

  def rows(columns: Seq[String], data: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = data.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    Sha.hex(Iterator(order.map(columns).mkString(",")) ++ lines.iterator).take(32)
  }

  def apply(df: DataFrame): String = rows(df.columns.toSeq, df.collect().toSeq)
}

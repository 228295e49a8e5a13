package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

object Stats {
  /** Linear-interpolated quantile (NumPy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Sha {
  /** SHA-256 of the parts, each followed by a newline byte. */
  def bytes(parts: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }
  def hex(parts: Iterator[String]): String = bytes(parts.map(_.getBytes(UTF_8)))
}

/** Minimal JSON writer for the flat result records (no extra deps). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) -> x }.sortBy(_._1)
        .map { case (k, x) => s"$k: ${apply(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case o => str(o.toString)
  }
}

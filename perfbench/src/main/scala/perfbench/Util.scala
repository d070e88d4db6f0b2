package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.Row

import scala.util.hashing.MurmurHash3

/** Just enough JSON writing for the benchmark's output lines. */
object Json {
  def str(s: String): String = {
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

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case raw: Raw => raw.json
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Already-serialized JSON. */
  final case class Raw(json: String)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten samples above it, as
    * (percentile, value); None when there are fewer than eleven samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 11) None
    else {
      val n = xs.size
      val p = (99 to 1 by -1).find(p => n - math.ceil(p / 100.0 * n) >= 10).getOrElse(1)
      Some(p -> quantile(xs, p / 100.0))
    }
}

/** Order-insensitive digest of a materialized result: the row count plus
  * a wrapping sum of 64-bit per-row hashes over every column. Doubles hash
  * by their exact shortest representation, so any changed value moves it. */
object Digest {
  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", "\u0001", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", "\u0001", "}")
    case a: Array[_] => canon(a.toSeq)
    case other => other.toString
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x7a11).toLong & 0xffffffffL)
  }

  def of(rows: Array[Row]): String = {
    var h = 0L
    rows.foreach(r => h += rowHash(r))
    f"${rows.length}%d:$h%016x"
  }
}

object Files2 {
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (!Files.isDirectory(p)) Files.size(p)
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def du(p: String): Long = du(Paths.get(p))

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }
}

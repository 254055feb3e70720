package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Small helpers shared by the workloads: order statistics, a JSON
  * writer for the result record, host stamps and a wall clock with
  * sub-millisecond resolution.
  */
object Util {

  /** Quantile with linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Median that reads 0 for an empty sample (a layer the workload
    * does not exercise).
    */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  private val wallBase = System.currentTimeMillis()
  private val nanoBase = System.nanoTime()

  /** Epoch milliseconds, fractional, monotonic within the process. */
  def wallMs(): Double = wallBase + (System.nanoTime() - nanoBase) / 1e6

  def loadavg(): Seq[Double] =
    try {
      new String(Files.readAllBytes(new File("/proc/loadavg").toPath),
        StandardCharsets.US_ASCII).trim.split("\\s+").take(3).map(_.toDouble).toSeq
    } catch { case _: java.io.IOException => Seq(-1.0, -1.0, -1.0) }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o: Option[_] => o.map(json).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(f: File, text: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, text.getBytes(StandardCharsets.UTF_8))
  }
}

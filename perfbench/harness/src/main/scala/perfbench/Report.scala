package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** What one run found: metrics, output checks and the attempt count. It is
  * written as one JSON object that `run.py` turns into the result line.
  */
final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L
  val notes = mutable.LinkedHashMap.empty[String, String]

  /** Record `name` = `value` [unit], measured over `samples` samples. */
  def metric(name: String, value: Double, unit: String, samples: Int = 1): Unit =
    metrics(name) = (value, unit, samples)

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  def correct: Boolean = checks.nonEmpty && checks.forall(_._2)

  private def str(s: String): String = Report.quote(s)

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def json: String = {
    val ms = metrics.map { case (k, (v, u, n)) =>
      s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}, \"samples\": $n}"
    }.mkString("{", ", ", "}")
    val cs = checks.map { case (k, ok, d) =>
      s"{\"name\": ${str(k)}, \"ok\": $ok, \"detail\": ${str(d)}}"
    }.mkString("[", ", ", "]")
    val ns = notes.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": $ms, "checks": $cs, "notes": $ns}"""
  }

  def write(p: Path): Unit = Files.write(p, (json + "\n").getBytes(StandardCharsets.UTF_8))
}

object Report {
  /** `s` as a JSON string literal. */
  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    require(n > 0, "median of no samples")
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run `f` and return (its value, seconds it took). */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, secondsSince(t0))
  }
}

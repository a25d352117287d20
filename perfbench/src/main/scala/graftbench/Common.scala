package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long, val work: String) {
  implicit def session: SparkSession = spark
  def span[T](name: String, op: Long = -1L)(body: => T): T = tracer.span(name, op)(body)
  def traced: Boolean = tracer.enabled
  def path(rel: String): String = s"$work/$rel"
}

/** Output checks: every operation counts as attempted; an operation
  * that threw or returned a wrong answer counts as failed. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val messages = mutable.ArrayBuffer.empty[String]

  /** Run one operation and its checks; `body` returns the list of
    * mismatches (empty = correct). */
  def op(label: String)(body: => Seq[String]): Unit = {
    val problems =
      try body
      catch { case e: Exception => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    synchronized {
      attempted += 1
      if (problems.nonEmpty) {
        failed += 1
        if (messages.size < 20) messages += s"$label: ${problems.mkString("; ")}"
      }
    }
  }
}

/** One reported metric. */
final case class Metric(value: Double, unit: String)

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

object Files {
  /** Total bytes of the regular files under `dir` (checksum files included). */
  def du(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(dir))
  }

  def rmrf(dir: String): Unit = {
    def walk(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      f.delete()
    }
    walk(new File(dir))
  }

  def write(path: String, content: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.write(content) finally w.close()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full-precision number; non-finite values become null. */
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.lang.Double.toString(x)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def metrics(ms: Seq[(String, Metric)]): String =
    obj(ms.map { case (k, m) => k -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit))) })
}

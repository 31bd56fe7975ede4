package graft.perfbench

import java.nio.file.{Files, Paths}

/** Sample summaries. A percentile above the median is reported only
  * when at least [[MinBeyond]] samples lie beyond it; the median is
  * always reported. */
object Stats {
  val MinBeyond = 10

  /** Nearest-rank percentile of `xs` at `p` in (0, 1], or the reason it
    * is refused. */
  def percentile(xs: Seq[Double], p: Double): Either[String, Double] = {
    require(p > 0 && p <= 1, s"percentile $p outside (0, 1]")
    if (xs.isEmpty) Left("no samples")
    else {
      val sorted = xs.sorted
      val rank = math.ceil(p * sorted.size).toInt.max(1)
      val beyond = sorted.size - rank
      if (p > 0.5 && beyond < MinBeyond)
        Left(s"p${(p * 100).round} has $beyond samples beyond it (needs $MinBeyond) of ${xs.size}")
      else Right(sorted(rank - 1))
    }
  }

  /** Median: the mean of the two middle samples for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest of p99, p95, p90 and p75 that has enough samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(0.99, 0.95, 0.9, 0.75).iterator
      .flatMap(p => percentile(xs, p).toOption.map(p -> _)).nextOption()
}

/** Operations attempted and failed; a failure is an operation that
  * threw or whose output did not match the model. */
final case class Outcome(attempted: Int, failed: Int) {
  def errorRate: Double = failed.toDouble / attempted
}

object Outcome {
  def of(ops: Seq[OpResult]): Outcome = Outcome(ops.size, ops.count(!_.ok))
}

/** Where and how a run ran, printed with every result. */
object RunContext {
  private def read(path: String): Option[String] =
    scala.util.Try(new String(Files.readAllBytes(Paths.get(path)))).toOption

  def loadavg(): String =
    read("/proc/loadavg").map(_.trim.split("\\s+").take(3).mkString(" ")).getOrElse("n/a")

  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuTimes(): Option[(Long, Long)] = read("/proc/stat").flatMap { s =>
    s.linesIterator.find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    }
  }

  /** Peak resident set size of this process, in MB. */
  def peakRssMb(): Double = read("/proc/self/status").flatMap(_.linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)).getOrElse(Double.NaN)

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

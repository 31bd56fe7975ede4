package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Regenerates `expected_analytics.tsv`: writes the [[AnalyticsTables]]
  * input, runs the analytics mix twice (the second time in reverse order) and
  * records each query's row count and digest. A query whose digest
  * differs between the two runs is recorded as rows-only.
  *
  * {{{
  * ExpectedAnalytics <work dir> <output tsv>
  * }}}
  */
object ExpectedAnalytics {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val spark = Main.session(work, Runtime.getRuntime.availableProcessors())
    try {
      val dir = work.resolve("tables")
      FileTree.deleteTree(dir)
      AnalyticsTables.write(spark, dir.toString)
      def runAll(order: Seq[String]): Map[String, (Long, String)] = order.map { q =>
        q -> Analytics.digest(graft.SparkEntry.queries(q)(spark, dir.toString))
      }.toMap
      val names = Analytics.Mix.map(_._1)
      val first = runAll(names)
      val second = runAll(names.reverse)
      val header = "# query\tfamily\trows\tdigest ('-': rows only)"
      val lines = header +: Analytics.Mix.map { case (q, f) =>
        val (rows, d) = first(q)
        require(second(q)._1 == rows, s"$q: row count differs between runs")
        s"$q\t$f\t$rows\t${if (second(q)._2 == d) d else Analytics.RowsOnly}"
      }
      Files.write(Paths.get(args(1)), lines.asJava)
      lines.foreach(println)
    } finally spark.stop()
  }
}

package graft

/** Dev tool (test scope, like DumpOracle): prints every SparkEntry
  * query's `Exchange hashpartitioning` count from the SAME pre-AQE plan
  * string PlanSpec's planOf reads, in the SAME Map iteration order — the
  * source of the pinned budget table in PlanSpec's exchange-budget gate.
  * Run with `sbt "Test/runMain graft.ExchangeBudgetMain"` after adding
  * or restructuring a query, and fold the printed row into the table.
  */
object ExchangeBudgetMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkTestSession.spark
    val sf = SparkTestSession.sf
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      val n = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      println(s"""[budget] "$name" -> $n,""")
    }
    spark.stop()
  }
}

package graft

/** Dev tool (test scope, like ExchangeBudgetMain): write ONE query's
  * oracle SQL to a file, for timing/EXPLAINing it directly in DuckDB
  * while tuning a deliberately-naive formulation's feasibility —
  * `sbt "Test/runMain graft.DumpOracle <query> <out.sql>"`. */
object DumpOracle {
  def main(args: Array[String]): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(args(1)), graft.oracle.Oracle.sql(args(0)))
}

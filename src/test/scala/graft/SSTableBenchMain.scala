package graft

import org.apache.spark.sql.SparkSession

/** Dev tool (test scope, like ProfileMain): measures the byte-level
  * SSTable migrate throughput — the reference's ACTUAL workload
  * (Data.db decode → k-generation LWW merge → create-only export) —
  * against its single-node rows/s class, at a configurable scale.
  * Synthesis + timing live in [[graft.tools.SSTableThroughput]], the
  * same code the per-round Bench artifact now runs; this main is the
  * knobs-exposed variant for one-off scale studies (SCALE.md's table).
  *
  * Run: sbt "Test/runMain graft.SSTableBenchMain [parts] [gens] [threads]"
  */
object SSTableBenchMain {

  def main(args: Array[String]): Unit = {
    val parts = args.headOption.map(_.toInt).getOrElse(250000)
    val gens = args.lift(1).map(_.toInt).getOrElse(16)
    val threads = args.lift(2).getOrElse("16")
    val dir = graft.tools.SSTableThroughput.synthesize(parts, gens).toString

    val spark = graft.sources.Tables.sessionConfs
      .foldLeft(SparkSession.builder().master(s"local[$threads]")
        .config("spark.sql.shuffle.partitions", threads)
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val totalCells = parts.toLong * 2 * gens

    graft.tools.SSTableThroughput.warm(spark, dir)
    val m = graft.tools.SSTableThroughput.measureOnce(spark, dir)
    import m.{decodeSec => tDecode, migrateSec => tMigrate, decoded, exported}
    def num(d: Double) =
      String.format(java.util.Locale.ROOT, "%.0f", Double.box(d))
    println(
      s"""{"metric":"sstable_migrate","cells":$totalCells,"gens":$gens,"threads":$threads,""" +
      s""""decode_sec":${num(tDecode * 1000).toDouble / 1000},"decoded":$decoded,""" +
      s""""decode_cells_per_sec":${num(decoded / tDecode)},""" +
      s""""decode_tasks":${m.decodeTasks},""" +
      s""""decode_cells_per_sec_per_task":${num(
        graft.tools.SSTableThroughput.decodeRatePerTask(m, threads.toInt))},""" +
      s""""migrate_sec":${num(tMigrate * 1000).toDouble / 1000},""" +
      s""""migrate_cells_per_sec":${num(totalCells / tMigrate)},""" +
      s""""migrate_cells_per_sec_per_core":${num(totalCells / tMigrate / threads.toDouble)},""" +
      s""""exported":$exported}""")
    spark.stop()
  }
}

package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point: one workload per process, a single
  * closed-loop client on `local[nproc]`.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Set-up is timed apart from the measured operations: session start,
  * plus the median of [[SetupRounds]] rounds that each build the inputs
  * from scratch, plus the workload's one-off preparation and
  * [[WarmUpOps]] (at least one pass) checked warm-up operations.
  * Every operation's output is checked after its timer stops. The last
  * stdout line is the JSON result. */
object Main {
  val SetupRounds = 3
  /** A migration keeps getting faster for about its first eight runs
    * (JIT); with fewer warm-up runs the measured median still sits on
    * that slope and moves with how many runs fit in `--seconds`. */
  val WarmUpOps = 6
  /** Fewest measured operations: a traced operation runs every layer
    * call and the same operation untraced, so it takes several times
    * longer. */
  val MinOps = 5
  val MinTracedOps = 3

  /** Input sizes: partition keys and generations of the bulk input. */
  val BulkKeys = 10000
  val Generations = 8

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2)
      .collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  def session(work: Path, cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
    graft.sources.Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String, spark: SparkSession, work: Path, seed: Long): Workload =
    name match {
      case "migrate_bulk" => new Migration(spark, work, seed, BulkKeys, Generations)
      case "analytics_mix" => new Analytics(spark, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val processStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadavg = RunContext.loadavg()
    val cpu0 = RunContext.cpuTimes()
    val cores = Runtime.getRuntime.availableProcessors()
    val workDir = Files.createDirectories(a.work.resolve("data"))
    val spark = session(a.work, cores)
    val sc = spark.sparkContext
    try {
      val sessionS = (System.currentTimeMillis() - processStartMs) / 1000.0
      val listener = if (a.trace) Some(new LayerListener) else None
      listener.foreach(sc.addSparkListener)
      val tracer = new Tracer(sc, listener)
      val w = workload(a.workload, spark, workDir, a.seed)

      val rounds = (0 until SetupRounds).map { r =>
        val t0 = System.nanoTime()
        w.setupRound(r)
        (System.nanoTime() - t0) / 1e9
      }
      val warmT0 = System.nanoTime()
      w.prepare()
      (0 until math.max(WarmUpOps, w.cycle)).foreach { i =>
        val r = w.run(i)
        require(r.ok, s"warm-up operation failed: ${r.detail}")
      }
      val warmS = (System.nanoTime() - warmT0) / 1e9
      val setupS = sessionS + Stats.median(rounds) + warmS

      val gc0 = RunContext.gcSeconds()
      val results = Seq.newBuilder[OpResult]
      val layerSamples = Seq.newBuilder[Map[String, Double]]
      val tracedWall = Seq.newBuilder[Double]
      val untracedWall = Seq.newBuilder[Double]
      val loopT0 = System.nanoTime()
      val deadline = loopT0 + a.seconds * 1000000000L
      var i = 0
      val minOps = if (a.trace) MinTracedOps else MinOps
      while (System.nanoTime() < deadline || i < minOps || i % w.cycle != 0) {
        if (a.trace) {
          def traced(): Unit = {
            val (r, layers) = w.traced(i, tracer)
            results += r
            tracedWall += r.seconds
            layerSamples += layers
          }
          // The same operation untraced, for the tracing overhead.
          def untraced(): Unit = {
            listener.foreach(sc.removeSparkListener)
            val u = w.run(i)
            listener.foreach(sc.addSparkListener)
            results += u
            untracedWall += u.seconds
          }
          // Alternate which runs first, so that neither side always
          // finds the other's work already warm.
          if (i % 2 == 0) { traced(); untraced() } else { untraced(); traced() }
        } else results += w.run(i)
        i += 1
      }
      // Wall time of the measured loop, checks included.
      val loopS = (System.nanoTime() - loopT0) / 1e9
      val ops = results.result()
      val gcS = RunContext.gcSeconds() - gc0
      val failed = ops.filterNot(_.ok)
      failed.take(5).foreach(f => println(s"failed operation: ${f.detail}"))

      val cpu1 = RunContext.cpuTimes()
      val steal = (cpu0, cpu1) match {
        case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
        case _ => Double.NaN
      }
      println("context " + Json.obj(Seq(
        "workload" -> Json.str(a.workload),
        "seed" -> a.seed.toString,
        "nproc" -> cores.toString,
        "master" -> Json.str(sc.master),
        "xmx_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
        "loadavg_start" -> Json.str(loadavg),
        "steal_fraction" -> Json.num(steal),
        "trace" -> a.trace.toString,
        "input" -> Json.str(w.describe),
        "flush_policy" -> Json.str("parquet target on local disk, no fsync"),
        "session_start_s" -> Json.num(sessionS),
        "set_up_rounds_s" -> rounds.map(Json.num).mkString("[", ", ", "]"),
        "warm_up_s" -> Json.num(warmS),
        "op_s" -> ops.map(o => Json.num(o.seconds)).mkString("[", ", ", "]"))))

      val metrics: Seq[(String, Double, String, Int)] =
        if (!a.trace) {
          // Latency samples are whole passes when a workload has them:
          // the median of a mix of different queries jumps between
          // them from run to run, a pass's total does not.
          val secs = ops.map(_.seconds).grouped(w.cycle).map(_.sum).toSeq
          Stats.tail(secs) match {
            case Some((p, v)) => println(f"op_p${(p * 100).round}%d_s = $v%.6f s (n=${secs.size})")
            case None =>
              println(s"tail percentile refused: ${Stats.percentile(secs, 0.9).left.getOrElse("")}")
          }
          Seq(
            ("setup_s", setupS, "s", SetupRounds),
            ("op_p50_s", Stats.median(secs), "s", secs.size),
            ("ops_per_s", ops.size / loopS, "1/s", ops.size),
            ("peak_rss_mb", RunContext.peakRssMb(), "MB", 1))
        } else {
          val samples = layerSamples.result()
          val overhead = Map(
            "trace.overhead_s" ->
              (Stats.median(tracedWall.result()) - Stats.median(untracedWall.result())),
            "jvm.gc_s" -> gcS / ops.size) ++ w.summary()
          Layers.all.map { case (name, unit) =>
            val xs = samples.flatMap(_.get(name))
            val v = overhead.getOrElse(name, if (xs.isEmpty) 0.0 else Stats.median(xs))
            (name, v, unit, math.max(xs.size, 1))
          }
        }
      metrics.foreach { case (n, v, u, k) =>
        println(f"metric $n%s = ${Json.num(v)}%s $u%s (n=$k%d)")
      }
      val outcome = Outcome.of(ops)
      println(s"error_rate = ${outcome.failed}/${outcome.attempted} = ${outcome.errorRate}")
      tracer.write(a.work.resolve(s"trace-${a.workload}-${a.seed}.jsonl"))
      println(Json.obj(Seq(
        "correct" -> (outcome.failed == 0).toString,
        "attempted" -> outcome.attempted.toString,
        "failed" -> outcome.failed.toString,
        "metrics" -> Json.obj(metrics.map { case (n, v, u, _) =>
          n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        }))))
    } finally spark.stop()
  }
}

/** Every per-layer metric a traced run reports, with its unit. A layer
  * a workload does not exercise reads 0. */
object Layers {
  val families: Seq[String] =
    Seq("operators", "dedup", "similarity", "text", "multimodal", "pipeline", "kv")

  val all: Seq[(String, String)] = Seq(
    "sstable.decode_s" -> "s", "sstable.task_s" -> "s", "sstable.wait_s" -> "s",
    "sstable.tasks" -> "count", "sstable.jobs" -> "count", "sstable.cells" -> "count",
    "sstable.cells_per_task_s" -> "1/s", "sstable.bytes_read" -> "bytes",
    "sstable.rows_read" -> "count", "sstable.read_amplification" -> "ratio",
    "kv.merge_s" -> "s", "kv.task_s" -> "s", "kv.jobs" -> "count",
    "kv.shuffle_write_bytes" -> "bytes", "kv.shuffle_read_bytes" -> "bytes",
    "kv.spill_bytes" -> "bytes", "kv.peak_exec_mem_mb" -> "MB",
    "kv.records_per_cell" -> "ratio", "kv.deleted_dropped" -> "count",
    "sinks.export_s" -> "s", "sinks.task_s" -> "s", "sinks.jobs" -> "count",
    "sinks.rows_per_s" -> "1/s", "sinks.written" -> "count",
    "sinks.skipped_existing" -> "count", "sinks.expired" -> "count",
    "sinks.write_ratio" -> "ratio", "sinks.target_read_bytes" -> "bytes",
    "sinks.bytes_written" -> "bytes", "sinks.bytes_per_record" -> "bytes") ++
    families.flatMap(f => Seq(
      s"queries.$f.latency_s" -> "s", s"queries.$f.task_s" -> "s",
      s"queries.$f.shuffle_bytes" -> "bytes", s"queries.$f.jobs" -> "count")) ++
    Seq(
      "memo.builds_setup" -> "count", "memo.builds_warm" -> "count",
      "memo.build_s" -> "s", "memo.retained_mb" -> "MB",
      "jvm.gc_s" -> "s",
      "trace.overhead_s" -> "s", "trace.layers_sum_s" -> "s",
      "trace.migrate_wall_s" -> "s", "trace.unattributed_s" -> "s")
}

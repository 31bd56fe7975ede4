package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The analyst's workload: one query per operation, from a fixed mix of
  * `SparkEntry.queries` that covers every query family, over the
  * [[AnalyticsTables]] input. Each pass runs the whole mix in an order
  * the seed permutes, and a run measures whole passes. One operation computes
  * the query's row count and a digest over every column, so no column
  * is pruned away, and the result is compared with
  * `expected_analytics.tsv` after the timer stops. The first (cold)
  * pass runs during set-up and builds the session memos. */
final class Analytics(spark: SparkSession, work: Path, seed: Long) extends Workload {
  import Analytics._

  private val dataDir = work.resolve("tables")
  private val expected: Map[String, (Long, String)] = loadExpected()
  private val cold = mutable.LinkedHashMap.empty[String, Double]
  private val warm = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var buildsSetup = 0L
  private var buildsWarm = 0L
  private val familyS = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val familyTask = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val familyShuffle = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val familyJobs = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private var tracedOps = 0

  /** Query of operation `i`: pass i / |mix| runs the mix in a seeded order. */
  private def query(i: Int): String = {
    val pass = i / Mix.size
    new scala.util.Random(seed * 7919L + pass).shuffle(Mix.map(_._1)).apply(i % Mix.size)
  }

  override def setupRound(round: Int): Unit = {
    FileTree.deleteTree(dataDir)
    AnalyticsTables.write(spark, dataDir.toString)
  }

  /** The cold pass: every query once, in mix order, checked. */
  override def prepare(): Unit = {
    val b0 = graft.functions.DriverMemo.buildCount()
    Mix.foreach { case (q, _) =>
      val r = execute(q)
      require(r.ok, s"cold pass: ${r.detail}")
      cold(q) = r.seconds
    }
    buildsSetup = graft.functions.DriverMemo.buildCount() - b0
    println("cold pass " + Json.obj(cold.toSeq.map { case (q, s) => q -> Json.num(s) }))
  }

  private def frame(q: String): DataFrame =
    graft.SparkEntry.queries(q)(spark, dataDir.toString)

  override def cycle: Int = Mix.size

  override def describe: String =
    s"${Mix.size} queries over tables of ${AnalyticsTables.Lineitems} lineitems " +
      s"and ${AnalyticsTables.Documents} documents"

  private def execute(q: String): OpResult = {
    val t0 = System.nanoTime()
    val ran = scala.util.Try(Analytics.digest(frame(q)))
    val secs = (System.nanoTime() - t0) / 1e9
    ran match {
      case scala.util.Failure(e) => OpResult(secs, ok = false, s"$q: $e")
      case scala.util.Success(d) => check(q, d).copy(seconds = secs)
    }
  }

  private def check(q: String, result: (Long, String)): OpResult = {
    val (rows, d) = result
    expected.get(q) match {
      case None => OpResult(0, ok = false, s"$q: no expected result")
      case Some((wantRows, wantDigest)) =>
        if (rows != wantRows) OpResult(0, ok = false, s"$q: $rows rows, expected $wantRows")
        else if (wantDigest != RowsOnly && d != wantDigest)
          OpResult(0, ok = false, s"$q: digest $d, expected $wantDigest")
        else OpResult(0, ok = true)
    }
  }

  override def run(i: Int): OpResult = {
    val q = query(i)
    val b0 = graft.functions.DriverMemo.buildCount()
    val r = execute(q)
    buildsWarm += graft.functions.DriverMemo.buildCount() - b0
    warm.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += r.seconds
    r
  }

  override def traced(i: Int, t: Tracer): (OpResult, Map[String, Double]) = {
    val q = query(i)
    val family = Mix.toMap.apply(q)
    val (r, span) = t.span(s"queries.$family", i) { run(i) }
    val c = t.counters(s"queries.$family", i)
    familyS(family) += span.seconds
    familyTask(family) += c.runMs / 1000.0
    familyShuffle(family) += (c.shuffleRead + c.shuffleWrite).toDouble
    familyJobs(family) += c.jobs.toDouble
    tracedOps += 1
    (r, Map("trace.op_wall_s" -> span.seconds))
  }

  /** Per-family sums per pass of the mix, and the memo counters. */
  override def summary(): Map[String, Double] = {
    val passes = math.max(tracedOps.toDouble / Mix.size, 1e-9)
    val memoBuildS = cold.map { case (q, c) =>
      warm.get(q).filter(_.nonEmpty).map(w => c - Stats.median(w.toSeq)).getOrElse(0.0)
    }.sum
    Layers.families.flatMap { f =>
      Seq(s"queries.$f.latency_s" -> familyS(f) / passes,
        s"queries.$f.task_s" -> familyTask(f) / passes,
        s"queries.$f.shuffle_bytes" -> familyShuffle(f) / passes,
        s"queries.$f.jobs" -> familyJobs(f) / passes)
    }.toMap ++ Map(
      "memo.builds_setup" -> buildsSetup.toDouble,
      "memo.builds_warm" -> buildsWarm.toDouble,
      "memo.build_s" -> memoBuildS,
      "memo.retained_mb" ->
        graft.functions.SessionScopedCache.retainedBytes(spark) / 1048576.0)
  }
}

object Analytics {
  /** The mix: query name → family. */
  val Mix: Seq[(String, String)] = Seq(
    "q18_large_orders" -> "operators", "basket_pairs" -> "operators",
    "events_sessionize" -> "operators",
    "kv_lww_latest" -> "kv",
    "dedup_exact" -> "dedup", "dedup_minhash_lsh" -> "dedup",
    "ann_bruteforce_topk" -> "similarity", "ann_ivf_topk" -> "similarity",
    "text_tfidf" -> "text", "text_quality" -> "text",
    "curation_report" -> "pipeline",
    "mm_curation_report" -> "multimodal")

  /** Marks a query whose values are not reproducible to the digest's
    * rounding; only its row count is checked. */
  val RowsOnly = "-"

  def loadExpected(): Map[String, (Long, String)] = {
    val in = getClass.getResourceAsStream("/expected_analytics.tsv")
    require(in != null, "expected_analytics.tsv missing from the classpath")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")).map(f => f(0) -> (f(2).toLong, f(3))).toMap
    finally in.close()
  }

  /** A column's contribution to the digest: floating values rounded to
    * 4 decimals (their last bits depend on summation order), maps as
    * sorted JSON. */
  private def stable(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 4)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 4))
    case _: MapType => to_json(c)
    case _ => c
  }

  /** Row count and order-independent digest of a query's result. */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map(f => stable(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
  }
}

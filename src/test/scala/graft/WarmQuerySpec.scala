package graft

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** A warm query compiles nothing and infers no schema: the second run
  * of a registry query reuses the generated classes of the first, and
  * a table read twice infers its Parquet schema once per content
  * version. */
class WarmQuerySpec extends AnyFunSuite {
  import SparkTestSession._

  /** The benchmark's analytics mix: one or more queries of every family. */
  private val mix = Seq(
    "q18_large_orders", "basket_pairs", "events_sessionize", "kv_lww_latest",
    "dedup_exact", "dedup_minhash_lsh", "ann_bruteforce_topk", "ann_ivf_topk",
    "text_tfidf", "text_quality", "curation_report", "mm_curation_report")

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second round of the analytics mix compiles no generated class") {
    def round(): Unit = mix.foreach(q => SparkEntry.queries(q)(spark, sf).collect())
    round()
    val before = compiles()
    round()
    assert(compiles() - before === 0L,
      "the codegen cache must hold every class of the mix across rounds")
  }

  /** Jobs started while `body` runs, as seen by a listener. A fence job
    * run afterwards flushes the listener bus: events arrive in order, so
    * once the fence is seen every earlier job start has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription("fence")
      try spark.range(1).collect() finally spark.sparkContext.setJobDescription(null)
      Iterator.continually(starts.poll(60, TimeUnit.SECONDS))
        .takeWhile(d => d != null && d != "fence").size
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a table read a second time starts no Spark job") {
    val dir = Files.createTempDirectory("warm-tables").toString
    Tables.lineitem(spark, sf).limit(100).write.parquet(s"$dir/lineitem.parquet")
    assert(jobsDuring(Tables.lineitem(spark, dir)) > 0, "the first read infers the schema")
    assert(jobsDuring(Tables.lineitem(spark, dir)) === 0, "the second read reuses it")
    assert(Tables.lineitem(spark, dir).count() === 100)
  }

  test("a table rewritten with an extra column is read with the new schema") {
    val dir = Files.createTempDirectory("warm-rewrite").toString
    spark.range(3).select(col("id").as("a")).write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").columns.toSeq === Seq("a"))
    spark.range(3).select(col("id").as("a"), (col("id") * 10).as("b"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = Tables(spark, dir, "t")
    assert(t.columns.toSeq === Seq("a", "b"))
    assert(t.orderBy("a").collect().map(r => r.getLong(1)).toSeq === Seq(0L, 10L, 20L))
  }

  test("a missing table throws Spark's own path-not-found error") {
    val dir = Files.createTempDirectory("warm-missing").toString
    val direct = intercept[AnalysisException](spark.read.parquet(s"$dir/nope.parquet"))
    val viaTables = intercept[AnalysisException](Tables(spark, dir, "nope"))
    assert(viaTables.getCondition === direct.getCondition)
    assert(viaTables.getMessage === direct.getMessage)
  }
}

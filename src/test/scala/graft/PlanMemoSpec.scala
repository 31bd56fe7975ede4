package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DriverMemo, SessionScopedCache}

/** The session plan memo behind [[SparkEntry.queries]]: a warm call
  * returns a new frame over the analyzed plan of the first call, with
  * the same rows; rewritten files and released memo entries rebuild it;
  * and the memo owns no blocks, so the footprint counters and the
  * evictor never see it. */
class PlanMemoSpec extends AnyFunSuite {
  import SparkTestSession._

  private def planKey(dir: String, query: String) = s"queries.plan#$dir#$query"

  /** A result as sorted text: floating values to 9 significant digits
    * (their last bits depend on summation order), maps by key. */
  private def canon(df: DataFrame): Seq[String] = {
    def show(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
      case f: Float => show(f.toDouble)
      case r: Row => r.toSeq.map(show).mkString("(", ",", ")")
      case b: Array[Byte] => b.mkString("0x", ".", "")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => show(k) + "->" + show(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
      case o => o.toString
    }
    df.collect().map(show).toSeq.sorted
  }

  private def analyzed(df: DataFrame) = df.queryExecution.analyzed

  private def copyTables(tables: Seq[String]): Path = {
    val dir = Files.createTempDirectory("graft-plan-memo")
    tables.foreach { t =>
      val from = Paths.get(sf, s"$t.parquet")
      val walk = Files.walk(from)
      try walk.forEach(p =>
        Files.copy(p, dir.resolve(s"$t.parquet").resolve(from.relativize(p).toString)))
      finally walk.close()
    }
    dir
  }

  private def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally walk.close()
  }

  test("every registry query returns the same rows from a cached plan as from a fresh build") {
    val t0 = System.nanoTime()
    val differ = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      SessionScopedCache.unpersist(spark, planKey(sf, q))
      val fresh = SparkEntry.queries(q)(spark, sf)
      val freshRows = canon(fresh)
      val cached = SparkEntry.queries(q)(spark, sf)
      assert(analyzed(cached) eq analyzed(fresh), s"$q: the second call must hit the plan memo")
      assert(cached ne fresh)
      if (canon(cached) == freshRows) None else Some(q)
    }
    info(f"${SparkEntry.queries.size} queries, twice each, in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(differ.isEmpty, s"cached plans return different rows: $differ")
  }

  test("a rewritten table is read by the next call") {
    val root = copyTables(Seq("lineitem"))
    val dir = root.toString
    val q = SparkEntry.queries("q1_pricing_summary")
    val before = q(spark, dir)
    val rowsBefore = canon(before)
    val side = root.resolve("lineitem.side")
    spark.read.parquet(s"$dir/lineitem.parquet").filter(col("l_orderkey") % 2 === 0)
      .write.parquet(side.toString)
    deleteTree(root.resolve("lineitem.parquet"))
    Files.move(side, root.resolve("lineitem.parquet"))
    val after = q(spark, dir)
    assert(analyzed(after) ne analyzed(before), "a rewritten table must rebuild the plan")
    val rowsAfter = canon(after)
    assert(rowsAfter !== rowsBefore)
    val fresh = copyTables(Nil)
    Files.move(root.resolve("lineitem.parquet"), fresh.resolve("lineitem.parquet"))
    assert(canon(q(spark, fresh.toString)) === rowsAfter,
      "the rebuilt answer is the one a fresh directory gets")
    deleteTree(root); deleteTree(fresh)
  }

  test("a released memo entry rebuilds the plan instead of reading a gutted checkpoint") {
    // dedup_embedding reads a localCheckpoint()ed frame memo; every way
    // of releasing it must rebuild the cached plan over a new one.
    val root = copyTables(Seq("documents", "embeddings"))
    val dir = root.toString
    val q = SparkEntry.queries("dedup_embedding")
    val first = q(spark, dir)
    val expected = canon(first)
    def ownEntries = SessionScopedCache.retainedInfo(spark).filter {
      case (k, bytes) => k.contains(dir) && bytes > 0
    }
    assert(ownEntries.nonEmpty, "the query must hold a checkpointed memo entry")
    var previous = analyzed(first)
    def rebuiltCorrectly(how: String): Unit = {
      val df = q(spark, dir)
      assert(analyzed(df) ne previous, s"after $how the plan must be rebuilt")
      assert(canon(df) === expected, s"after $how")
      previous = analyzed(df)
      assert(analyzed(q(spark, dir)) eq previous, s"after $how the rebuilt plan is cached")
    }
    ownEntries.keys.foreach(SessionScopedCache.unpersist(spark, _))
    rebuiltCorrectly("unpersist")
    assert(ownEntries.nonEmpty)
    assert(SessionScopedCache.evictToCap(spark, 0L) >= 1)
    rebuiltCorrectly("evictToCap")
    SessionScopedCache.unpersistAll(spark)
    rebuiltCorrectly("unpersistAll")
    SessionScopedCache.unpersistAll(spark)
    deleteTree(root)
  }

  test("cached plans own no blocks: no footprint, no memo build, never evicted") {
    val root = copyTables(Seq("documents", "embeddings", "lineitem"))
    val dir = root.toString
    val withMemo = SparkEntry.queries("dedup_embedding")
    val plain = SparkEntry.queries("q6_forecast_revenue")
    withMemo(spark, dir).count()
    plain(spark, dir).count()
    val bytes = SessionScopedCache.retainedBytes(spark)
    val entries = SessionScopedCache.retainedEntries(spark)
    val builds = DriverMemo.buildCount()
    assert(!SessionScopedCache.retainedInfo(spark).keys.exists(_.startsWith("queries.plan#")))
    // A plan rebuilt over warm pipeline memos, and a plan hit, leave
    // every counter as it was.
    SessionScopedCache.unpersist(spark, planKey(dir, "dedup_embedding"))
    withMemo(spark, dir).count()
    withMemo(spark, dir).count()
    assert(SessionScopedCache.retainedBytes(spark) === bytes)
    assert(SessionScopedCache.retainedEntries(spark) === entries)
    assert(DriverMemo.buildCount() === builds)
    // The evictor selects block-owning entries only: one eviction per
    // entry holding bytes, none for the cached plans over them.
    val nonzero = SessionScopedCache.retainedInfo(spark).count(_._2 > 0)
    assert(nonzero >= 1)
    assert(SessionScopedCache.evictToCap(spark, 0L) === nonzero)
    assert(SessionScopedCache.retainedInfo(spark).forall(_._2 == 0L))
    // With no block-owning entry left to release, a plan stays cached
    // across an eviction pass.
    SessionScopedCache.unpersistAll(spark)
    val plainPlan = analyzed(plain(spark, dir))
    assert(SessionScopedCache.evictToCap(spark, 0L) === 0)
    assert(analyzed(plain(spark, dir)) eq plainPlan)
    deleteTree(root)
  }
}

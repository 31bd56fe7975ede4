package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DriverMemo, SessionScopedCache}

/** The session-memo footprint accounting and reclamation API (the
  * r8/r9 "bound and account" task): retained checkpoint bytes are
  * visible per entry from the SparkContext's own storage listing, and
  * an explicit unpersist drops the entry AND frees its blocks. */
class SessionScopedCacheSpec extends AnyFunSuite {
  import SparkTestSession._

  test("memoized checkpoints are accounted per entry and freed on unpersist") {
    val cache = new SessionScopedCache[DataFrame]("spec.cache")
    var builds = 0
    def build(): org.apache.spark.sql.DataFrame = {
      builds += 1
      spark.range(50000).select(col("id"), md5(col("id").cast("string")).as("pad"))
        .localCheckpoint()
    }
    val df = cache.getOrCompute(spark, "k1")(build())
    cache.getOrCompute(spark, "k1")(build())
    assert(builds === 1, "memoization must build once per (session, key)")
    assert(df.count() === 50000)

    // Accounting: the entry shows up under its qualified name with the
    // real block bytes the checkpoint pins.
    val info = SessionScopedCache.retainedInfo(spark)
    assert(info.contains("spec.cache#k1"), s"entry missing from $info")
    assert(info("spec.cache#k1") > 0L,
      s"checkpoint blocks must be visible as retained bytes: $info")
    assert(SessionScopedCache.retainedBytes(spark) >= info("spec.cache#k1"))

    // Reclamation: unpersist drops the entry and frees the blocks.
    assert(SessionScopedCache.unpersist(spark, "spec.cache#k1"))
    assert(!SessionScopedCache.retainedInfo(spark).contains("spec.cache#k1"))
    assert(!SessionScopedCache.unpersist(spark, "spec.cache#k1"),
      "double-unpersist must report no entry")

    // The next consumer REBUILDS (fresh checkpoint) instead of reading
    // a gutted one — the safety contract that rules out auto-eviction.
    val df2 = cache.getOrCompute(spark, "k1")(build())
    assert(builds === 2)
    assert(df2.count() === 50000)
    SessionScopedCache.unpersist(spark, "spec.cache#k1")
  }

  test("evictToCap drops largest-first and stops at the cap (ADVICE r11)") {
    // Other suites share this session and may have left memo entries;
    // start from a clean slate so the largest-first order is exactly
    // the two planted entries (evicted suites simply rebuild).
    SessionScopedCache.unpersistAll(spark)
    val cache = new SessionScopedCache[DataFrame]("spec.cap")
    def frame(rows: Int) =
      spark.range(rows).select(col("id"), md5(col("id").cast("string")).as("pad"))
        .localCheckpoint()
    cache.getOrCompute(spark, "small")(frame(5000))
    cache.getOrCompute(spark, "big")(frame(200000))
    val info = SessionScopedCache.retainedInfo(spark)
      .filter(_._1.startsWith("spec.cap#"))
    assert(info("spec.cap#small") > 0L)
    assert(info("spec.cap#big") > info("spec.cap#small"))
    val total = SessionScopedCache.retainedBytes(spark)
    // A cap that only the big entry breaches: exactly one eviction,
    // the small entry survives — the whole point vs unpersistAll.
    val cap = total - info("spec.cap#big") + info("spec.cap#small")
    assert(SessionScopedCache.evictToCap(spark, cap) === 1)
    val after = SessionScopedCache.retainedInfo(spark)
    assert(!after.contains("spec.cap#big"))
    assert(after.contains("spec.cap#small"))
    assert(SessionScopedCache.retainedBytes(spark) <= cap)
    // A generous cap evicts nothing; an unreachable cap of 0 clears
    // every nonzero entry and terminates.
    assert(SessionScopedCache.evictToCap(spark, Long.MaxValue) === 0)
    assert(SessionScopedCache.evictToCap(spark, 0L) >= 1)
    assert(!SessionScopedCache.retainedInfo(spark).contains("spec.cap#small"))
  }

  test("keys with '#' in the cached key round-trip through the qualified name") {
    val cache = new SessionScopedCache[DataFrame]("spec.hashkey")
    cache.getOrCompute(spark, "/some/dir#phash_pairs")(
      spark.range(10).toDF().localCheckpoint())
    val qualified = "spec.hashkey#/some/dir#phash_pairs"
    assert(SessionScopedCache.retainedInfo(spark).contains(qualified))
    assert(SessionScopedCache.unpersist(spark, qualified))
    assert(!SessionScopedCache.retainedInfo(spark).contains(qualified))
  }

  test("a build may look up another key of the same cache") {
    // "Aa" and "BB" share a String hashCode, so they land in one bin of
    // a ConcurrentHashMap, where building "BB" from inside the
    // computeIfAbsent that builds "Aa" throws "Recursive update" — the
    // shape of mm_phash_clusters, whose build reads the phash pairs.
    val cache = new SessionScopedCache[DataFrame]("spec.nested")
    val outer = cache.getOrCompute(spark, "Aa") {
      val inner = cache.getOrCompute(spark, "BB")(spark.range(3).toDF().localCheckpoint())
      inner.union(spark.range(3, 5).toDF()).localCheckpoint()
    }
    assert(outer.count() === 5)
    assert(cache.getOrCompute(spark, "BB")(fail("BB must be memoized")).count() === 3)
    assert(cache.getOrCompute(spark, "Aa")(fail("Aa must be memoized")) eq outer)
    Seq("spec.nested#Aa", "spec.nested#BB").foreach(SessionScopedCache.unpersist(spark, _))
  }

  test("a build that throws leaves no entry") {
    val cache = new SessionScopedCache[Int]("spec.failing")
    val e = intercept[IllegalStateException] {
      cache.getOrCompute(spark, "k")(throw new IllegalStateException("boom"))
    }
    assert(e.getMessage === "boom")
    assert(cache.entries(spark).isEmpty)
    assert(cache.getOrCompute(spark, "k")(7) === 7)

    // A build that needs its own key fails by name instead of waiting
    // on itself.
    intercept[IllegalStateException] {
      cache.getOrCompute(spark, "self")(cache.getOrCompute(spark, "self")(1))
    }
    assert(!cache.entries(spark).keys.exists(_.endsWith("#self")))
  }

  test("rewritten corpus files are recomputed, not served from the memo") {
    // The memo key is the CONTENT of the directory: once a session's
    // corpus files are rewritten, a frame memo (dedup_embedding's
    // per-vector LSH best) and a driver-value memo (the PCA fit) must
    // each rebuild exactly once, and answer as a fresh directory with
    // the same files would.
    def copyTree(from: Path, to: Path): Unit = {
      val walk = Files.walk(from)
      try walk.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
      finally walk.close()
    }
    def deleteTree(p: Path): Unit = {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally walk.close()
    }
    val root = Files.createTempDirectory("graft-memo-content")
    val corpus = root.resolve("corpus")
    Files.createDirectory(corpus)
    Seq("documents", "embeddings").foreach(t =>
      copyTree(Paths.get(sf, s"$t.parquet"), corpus.resolve(s"$t.parquet")))
    val dir = corpus.toString
    def dedupEmbedding(d: String): Seq[String] =
      SparkEntry.queries("dedup_embedding")(spark, d).collect().map(_.toString).sorted.toSeq

    val before = dedupEmbedding(dir)
    val pcaBefore = graft.similarity.Pca.fit(spark, dir)

    // Rewrite both tables with different rows: every other id.
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id").foreach { case (t, id) =>
      val side = root.resolve(s"$t.side")
      spark.read.parquet(s"$dir/$t.parquet").filter(col(id) % 2 === 0)
        .write.parquet(side.toString)
      deleteTree(corpus.resolve(s"$t.parquet"))
      Files.move(side, corpus.resolve(s"$t.parquet"))
    }
    val nEven = spark.read.parquet(s"$dir/embeddings.parquet").count()

    val b0 = DriverMemo.buildCount()
    val after = dedupEmbedding(dir)
    assert(DriverMemo.buildCount() === b0 + 1, "the frame memo must rebuild once")
    val pcaAfter = graft.similarity.Pca.fit(spark, dir)
    assert(DriverMemo.buildCount() === b0 + 2, "the value memo must rebuild once")
    assert(pcaAfter.n === nEven)
    assert(pcaAfter.n !== pcaBefore.n)
    assert(after !== before)

    // Unchanged files: hits only.
    val b1 = DriverMemo.buildCount()
    assert(dedupEmbedding(dir) === after)
    assert(graft.similarity.Pca.fit(spark, dir) eq pcaAfter)
    assert(DriverMemo.buildCount() === b1, "unchanged files must not rebuild")

    // The rebuilt answer is the one a fresh directory gets.
    val fresh = root.resolve("fresh")
    copyTree(corpus, fresh)
    assert(dedupEmbedding(fresh.toString) === after)
    deleteTree(root)
  }
}

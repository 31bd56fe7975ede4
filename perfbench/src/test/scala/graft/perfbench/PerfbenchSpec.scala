package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.kv.Kv

/** The benchmark's own checks: its model against the engine on a tiny
  * fixture, its error accounting, and its percentile rule. */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[1]")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def text(s: String) = s.getBytes(UTF_8)
  private def long(v: Long) = java.nio.ByteBuffer.allocate(8).putLong(v).array()
  private val H = Fixture.HourUs
  private val T0 = Fixture.T0

  private def row(ts: Long, ttl: Int = -1, deadCol: String = ""): Seq[Cell] =
    SSTableWriter.ColumnNames.map { c =>
      if (c == deadCol) Cell(c, ts + 1, null, -1, deleted = true)
      else Cell(c, ts, if (c == "n") long(ts) else text(s"$c@$ts"), ttl, deleted = false)
    }
  private def live(k: String, ts: Long, ttl: Int = -1, deadCol: String = "") =
    Partition(k, SSTableWriter.NoDeletion, row(ts, ttl, deadCol))

  // Generation 1 writes four keys; generation 2 deletes k1 (planted
  // partition tombstone), overwrites k2 with a cell tombstone in `b`,
  // writes k3 with a TTL that has run out by `now` (planted expired
  // cells), and adds k5 with a TTL under the -L minimum.
  private val gens = Seq(
    Seq(live("k1", T0 + H), live("k2", T0 + H), live("k3", T0 + H), live("k4", T0 + H)),
    Seq(Partition("k1", T0 + 2 * H, Nil),
      live("k2", T0 + 2 * H, deadCol = "b"),
      live("k3", T0 + 2 * H, ttl = 3600),
      live("k5", T0 + 2 * H, ttl = 300)))

  private def write(g: Seq[Seq[Partition]]) = {
    val dir = Files.createTempDirectory("perfbench-spec")
    g.zipWithIndex.foreach { case (p, i) => SSTableWriter.write(dir, i + 1, p) }
    dir
  }

  test("the model equals Kv.migrate on a tiny fixture with planted tombstones and expiry") {
    val want = Model.migrate(gens, Fixture.policy)
    // k1 is gone, k2 loses `b`, k3 and k5 expire: only k2's three live
    // cells and k4's four cells are written.
    assert(want.stats == MigrateStats(incoming = 15, written = 7, skippedExisting = 0,
      expired = 8, deletedDropped = 1, skippedUnchanged = 0))
    val dir = write(gens)
    val out = Files.createTempDirectory("perfbench-out").resolve("t")
    val got = Kv.migrate(spark, Seq(dir.toString), "", out.toString,
      Some(Fixture.sinkPolicy)).toOption.get
    assert(MigrateStats.of(got) == want.stats)
    val m = new Migration(spark, dir, 0L, 1, 1)
    assert(m.digestOf(out) == want.written)
  }

  test("the benchmark's murmur3 token agrees with the engine's") {
    val rng = new scala.util.Random(5)
    (0 until 2000).foreach { i =>
      val k = rng.alphanumeric.take(i % 40).mkString
      assert(Murmur3.token(k) == graft.functions.CassandraMurmur3.token(k.getBytes(UTF_8)), k)
    }
  }

  test("a planted wrong digest counts as a failed operation in error_rate") {
    val work = Files.createTempDirectory("perfbench-plant")
    val m = new Migration(spark, work, 3L, 200, 2)
    m.setupRound(0)
    val good = m.run(0)
    assert(good.ok, good.detail)
    m.plantWrongDigest()
    val bad = m.run(1)
    assert(!bad.ok && bad.detail.contains("digest"))
    assert(Outcome.of(Seq(good, bad)) == Outcome(attempted = 2, failed = 1))
    assert(Outcome.of(Seq(good, bad)).errorRate == 0.5)
  }

  test("percentile selection refuses a percentile with fewer than 10 samples beyond it") {
    val fifty = (1 to 50).map(_.toDouble)
    assert(Stats.percentile(fifty, 0.9).isLeft)       // 5 beyond
    assert(Stats.percentile(fifty, 0.8) == Right(40.0)) // 10 beyond
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(hundred, 0.9) == Right(90.0))
    assert(Stats.percentile(hundred, 0.95).isLeft)
    assert(Stats.percentile((1 to 5).map(_.toDouble), 0.5) == Right(3.0))
    assert(Stats.tail(hundred) == Some((0.9, 90.0)))
    assert(Stats.tail(fifty).isEmpty || Stats.tail(fifty).get._1 <= 0.8)
  }
}

package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The statistics one `Kv.migrate` reports, as the model predicts them. */
final case class MigrateStats(
    incoming: Long, written: Long, skippedExisting: Long, expired: Long,
    deletedDropped: Long, skippedUnchanged: Long)

object MigrateStats {
  def of(s: graft.sinks.KeyedSink.WriteStats): MigrateStats =
    MigrateStats(s.incoming, s.written, s.skippedExisting, s.expired,
      s.deletedDropped, s.skippedUnchanged)
}

/** Order-independent digest of a set of target rows: the row count and
  * the exact sum of each row's xxhash64 over (key, col, ts µs, value,
  * expiry_us, ttl_us) with seed 42 — the value Spark's `xxhash64`
  * computes for the same columns. */
final case class Digest(rows: Long, sum: BigInt) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
}

object Digest {
  val Zero: Digest = Digest(0L, BigInt(0))
  val Seed = 42L

  def of(r: Record): Digest = {
    var h = Seed
    h = XxHash64Function.hash(UTF8String.fromString(r.key), StringType, h)
    h = XxHash64Function.hash(UTF8String.fromString(r.col), StringType, h)
    h = XxHash64Function.hash(r.ts, LongType, h)
    if (r.value != null) h = XxHash64Function.hash(r.value, BinaryType, h)
    if (r.expiryUs != null) h = XxHash64Function.hash(r.expiryUs, LongType, h)
    h = XxHash64Function.hash(r.ttlUs, LongType, h)
    Digest(1L, BigInt(h))
  }
}

/** One exported record: a surviving (key, col) winner. */
final case class Record(
    key: String, col: String, ts: Long, value: Array[Byte],
    expiryUs: java.lang.Long, ttlUs: Long)

/** What one migration must produce: its statistics and the digest of
  * the rows it writes. */
final case class Expected(stats: MigrateStats, written: Digest)

/** The benchmark's own model of a migration into an empty target:
  * last-write-wins per (key, col) by timestamp, partition tombstones
  * suppressing every cell of their key at or before their timestamp,
  * tombstone winners dropped and counted, and the `-L` minimum-TTL and
  * expiry policy at a fixed `now`. It shares no code with the engine. */
object Model {
  final case class Policy(minTtlUs: Long, nowUs: Long)

  def migrate(gens: Seq[Seq[Partition]], policy: Policy): Expected = {
    val deletion = scala.collection.mutable.HashMap.empty[String, Long]
    val winners = scala.collection.mutable.HashMap.empty[(String, String), Cell]
    for (g <- gens; p <- g) {
      if (p.deletionTs != SSTableWriter.NoDeletion)
        deletion(p.key) = math.max(deletion.getOrElse(p.key, Long.MinValue), p.deletionTs)
    }
    for (g <- gens; p <- g; c <- p.cells) {
      if (deletion.get(p.key).forall(c.ts > _)) {
        val k = (p.key, c.col)
        winners.get(k) match {
          case Some(w) if w.ts >= c.ts =>
            require(w.ts != c.ts, s"ambiguous timestamp for $k")
          case _ => winners(k) = c
        }
      }
    }
    var deletedDropped = 0L
    var incoming = 0L
    var expired = 0L
    var digest = Digest.Zero
    winners.foreach { case ((key, col), c) =>
      if (c.deleted) deletedDropped += 1
      else {
        incoming += 1
        val ttlUs = if (c.ttlS >= 0) c.ttlS * 1000000L else 0L
        val expiry: java.lang.Long =
          if (c.ttlS >= 0) java.lang.Long.valueOf(c.ts + ttlUs) else null
        val live = expiry == null || (expiry > policy.nowUs && ttlUs >= policy.minTtlUs)
        if (!live) expired += 1
        else digest = digest + Digest.of(Record(key, col, c.ts, c.value, expiry, ttlUs))
      }
    }
    Expected(
      MigrateStats(incoming, digest.rows, skippedExisting = 0L, expired,
        deletedDropped, skippedUnchanged = 0L),
      digest)
  }
}

/** Seeded generation of the migration inputs.
  *
  * Bulk: `gens` generations over `nKeys` partition keys. Each
  * generation rewrites a seeded half of the keys (every column, each
  * cell with its own timestamp), so a surviving cell has about gens/2
  * versions. About 2% of a generation's partitions are partition
  * tombstones instead, 2% of rows carry one cell tombstone, and 10% of
  * cells expire: a third with a TTL under the `-L` minimum, a third
  * with a 2-hour TTL that has run out for all but the newest
  * generation at [[NowUs]], and a third with a 2-day TTL. */
object Fixture {
  val T0: Long = 1700000000L * 1000000L
  val HourUs: Long = 3600L * 1000000L
  val NowUs: Long = T0 + 10 * HourUs
  val MinTtlUs: Long = 600L * 1000000L
  val policy: Model.Policy = Model.Policy(MinTtlUs, NowUs)
  def sinkPolicy: graft.sinks.KeyedSink.TtlPolicy =
    graft.sinks.KeyedSink.TtlPolicy(minTtlUs = MinTtlUs, nowUs = NowUs)

  def key(i: Int): String = f"user$i%08d"

  private def row(rng: scala.util.Random, g: Int): Seq[Cell] = {
    val base = T0 + g * HourUs
    val tombstoneAt = if (rng.nextDouble() < 0.02) rng.nextInt(4) else -1
    SSTableWriter.ColumnNames.zipWithIndex.map { case (c, i) =>
      val ts = base + rng.nextInt(1000000000).toLong
      if (i == tombstoneAt) Cell(c, ts, null, -1, deleted = true)
      else {
        val ttl =
          if (rng.nextDouble() >= 0.10) -1
          else Seq(300, 7200, 172800)(rng.nextInt(3))
        val value =
          if (SSTableWriter.isLong(c))
            java.nio.ByteBuffer.allocate(8).putLong(rng.nextLong()).array()
          else s"g$g-$c-${rng.alphanumeric.take(12 + rng.nextInt(12)).mkString}"
            .getBytes(UTF_8)
        Cell(c, ts, value, ttl, deleted = false)
      }
    }
  }

  private def tombstone(rng: scala.util.Random, k: String, g: Int): Partition =
    Partition(k, T0 + g * HourUs + rng.nextInt(1000000000).toLong, Nil)

  def bulk(seed: Long, nKeys: Int, gens: Int): Seq[Seq[Partition]] =
    (1 to gens).map { g =>
      val rng = new scala.util.Random(seed * 1000003L + g)
      (0 until nKeys).flatMap { i =>
        if (rng.nextDouble() >= 0.5) None
        else if (rng.nextDouble() < 0.02) Some(tombstone(rng, key(i), g))
        else Some(Partition(key(i), SSTableWriter.NoDeletion, row(rng, g)))
      }
    }

  def cellCount(gens: Seq[Seq[Partition]]): Long =
    gens.iterator.flatten.map(_.cells.size.toLong).sum
}

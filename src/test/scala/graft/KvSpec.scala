package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kv.Kv

/** Algebraic invariants of the KV merge semantics — the properties that
  * make the Spark formulation equivalent to the reference's serial
  * k-way merge regardless of how the data is split into generations.
  */
class KvSpec extends AnyFunSuite {
  import SparkTestSession._

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("LWW merge is invariant to the generation split (k = 1, 2, 5)") {
    val full = canon(Kv.lww(Kv.cells(spark, sf))
      .select("key", "col", "ts", "seq", "value"))
    Seq(2, 5).foreach { k =>
      val merged = canon(Kv.mergeGenerations(Kv.generations(spark, sf, k))
        .select("key", "col", "ts", "seq", "value"))
      assert(merged === full, s"k=$k generation merge diverges from direct LWW")
    }
  }

  test("LWW is idempotent") {
    val once = Kv.lww(Kv.cells(spark, sf))
    assert(canon(Kv.lww(once).select("key", "col", "ts", "seq", "value"))
      === canon(once.select("key", "col", "ts", "seq", "value")))
  }

  test("tombstone application commutes with LWW for surviving cells") {
    // Filtering tombstoned cells then compacting equals compacting the
    // annotated bag then filtering — both orders must agree.
    val a = canon(Kv.lww(Kv.applyMarkerTombstones(Kv.cells(spark, sf)
        .withColumn("range_start", lit(null).cast("string"))
        .withColumn("range_end", lit(null).cast("string"))))
      .select("key", "col", "value"))
    val cellsDf = Kv.cells(spark, sf)
    val b = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
      val annotated = cellsDf.withColumn("del_ts",
        max(when(col("col") === Kv.TombstoneCol, col("ts"))).over(w))
      canon(Kv.lww(annotated)
        .filter(col("col") =!= Kv.TombstoneCol &&
          (col("del_ts").isNull || col("ts") > col("del_ts")))
        .select("key", "col", "value"))
    }
    assert(a === b)
  }

  test("marker tombstones: a cell at exactly its marker's ts dies, whole key or column range") {
    // The reference keeps a cell only when `minTime < ts`
    // (CassandraParser.cpp:481), so the boundary cell is deleted and a
    // cell 1 µs later survives.
    import spark.implicits._
    val m = 200000000L
    val bag = Seq(
      ("k1", "click", m + 1, 1L, 1.0),
      ("k1", "purchase", m, 2L, 2.0),
      ("k1", "view", m - 1, 3L, 3.0),
      ("k1", Kv.TombstoneCol, m, 4L, 0.0),
      ("k2", "purchase", m - 1, 5L, 5.0))
      .toDF("key", "col", "ts_us", "seq", "value")
      .select(col("key"), col("col"), timestamp_micros(col("ts_us")).as("ts"),
        col("seq"), col("value"))
    def survivors(rangeStart: Column, rangeEnd: Column): Set[(String, String)] =
      Kv.applyMarkerTombstones(bag
          .withColumn("range_start", rangeStart).withColumn("range_end", rangeEnd))
        .collect().map(r => (r.getAs[String]("key"), r.getAs[String]("col"))).toSet
    val noRange = lit(null).cast("string")
    // Null range columns: the marker kills every column of its key.
    assert(survivors(noRange, noRange) === Set(("k1", "click"), ("k2", "purchase")))
    // A [click, purchase] range: "view" sits outside it and survives.
    assert(survivors(lit("click"), lit("purchase")) ===
      Set(("k1", "click"), ("k1", "view"), ("k2", "purchase")))
  }

  test("counter merge total equals the sum over any generation split") {
    // counter_value presents as double; each value is an exact 2-decimal
    // quantity, so casting back to decimal recovers the exact total.
    val total = Kv.counterMerge(spark, sf)
      .agg(sum(col("counter_value").cast("decimal(30,2)"))).collect().head.getDecimal(0)
    val perGen = Kv.generations(spark, sf, 3)
      .map(_.agg(sum(col("value").cast("decimal(30,2)"))).collect().head.getDecimal(0))
      .reduce(_ add _)
    assert(total.compareTo(perGen) === 0)
  }

  test("counter-sum merge: shards add, counter tombstones bound, dead counters surface deleted") {
    val sparkS = spark
    import sparkS.implicits._
    import graft.functions.CounterCodec
    def cell(key: String, name: String, ts: Long, shard: Option[Long],
        deleted: Boolean, counter: Boolean, text: Option[String] = None) =
      (key, name, ts, ts,
        text.map(_.getBytes("UTF-8")).orElse(shard.map(CounterCodec.longBe)).orNull,
        Option.empty[Long], counter, deleted)
    val bag = Seq(
      // Plain shard sum, including a NEGATIVE shard (signed BE decode).
      cell("k1", "hits", 100L, Some(5L), deleted = false, counter = true),
      cell("k1", "hits", 200L, Some(-3L), deleted = false, counter = true),
      cell("k1", "hits", 150L, Some(9L), deleted = false, counter = true),
      // Counter cell-tombstone at 300 kills shards <= 300 only.
      cell("k1", "hits2", 100L, Some(7L), deleted = false, counter = true),
      cell("k1", "hits2", 300L, None, deleted = true, counter = true),
      cell("k1", "hits2", 250L, Some(4L), deleted = false, counter = true),
      cell("k1", "hits2", 350L, Some(6L), deleted = false, counter = true),
      // No shard survives the tombstone: surfaces as a deleted winner.
      cell("k2", "hits", 100L, Some(8L), deleted = false, counter = true),
      cell("k2", "hits", 200L, None, deleted = true, counter = true),
      // Non-counter columns keep plain LWW.
      cell("k1", "name", 100L, None, deleted = false, counter = false, text = Some("old")),
      cell("k1", "name", 120L, None, deleted = false, counter = false, text = Some("new")))
      .toDF("key", "col", "tus", "seq", "value", "ttl_s", "counter", "deleted")
      .withColumn("ts", timestamp_micros(col("tus"))).drop("tus")
    val got = Kv.mergeWithCounterSum(bag)
      .selectExpr("key", "col", "value", "unix_micros(ts) AS tus", "deleted")
      .collect().map { r =>
        val v = Option(r.getAs[Array[Byte]]("value")).map { b =>
          if (r.getAs[String]("col") == "name") new String(b, "UTF-8"): Any
          else java.nio.ByteBuffer.wrap(b).getLong: Any
        }
        (r.getAs[String]("key"), r.getAs[String]("col")) ->
          ((v, r.getAs[Long]("tus"), r.getAs[Boolean]("deleted")))
      }.toMap
    assert(got === Map(
      ("k1", "hits") -> ((Some(11L), 200L, false)),
      ("k1", "hits2") -> ((Some(6L), 350L, false)),
      ("k2", "hits") -> ((None, 200L, true)),
      ("k1", "name") -> ((Some("new"), 120L, false))))
  }

  test("sql extensions expose the kernels to plain SQL") {
    org.apache.spark.sql.graftbridge.ColumnBridge
      .registerExtensionFunctions(spark, new GraftExtensions)
    val row = spark.sql(
      """SELECT cassandra_token('42') AS tok,
        |  hamming64(simhash64(word_shingles('a b c d', 2)),
        |            simhash64(word_shingles('a b c d', 2))) AS ham,
        |  size(minhash_sigs(word_shingles('a b c d e f', 2), 16)) AS k,
        |  random_partitioner_token('42') AS rtok,
        |  sorted_pairs(array(3L, 1L, 2L)) AS pairs,
        |  counter_long(long_binary(-42L)) AS shard
        |""".stripMargin).collect().head
    assert(row.getLong(0) === graft.functions.CassandraMurmur3.token(
      org.apache.spark.unsafe.types.UTF8String.fromString("42")))
    assert(row.getInt(1) === 0)
    assert(row.getInt(2) === 16)
    assert(row.getString(3) === graft.functions.CassandraRandomMd5.tokenHex("42"))
    // Pairs follow ARRAY order (callers feed pre-sorted id sets).
    assert(row.getSeq[org.apache.spark.sql.Row](4).map(r => (r.getLong(0), r.getLong(1)))
      === Seq((3L, 1L), (3L, 2L), (1L, 2L)))
    assert(row.getLong(5) === -42L, "counter codec must round-trip signed values")

    // Aggregates register too — the analyzer wraps them like built-ins.
    val agg = spark.sql(
      """SELECT collect_set_limit(x, 10) AS s,
        |  topk_by_score(CAST(x AS DOUBLE), x, 2) AS t,
        |  freq_sketch(CAST(x % 2 AS STRING), 4) AS f
        |FROM VALUES (1L), (2L), (3L) AS v(x)""".stripMargin).collect().head
    assert(agg.getSeq[Long](0).sorted === Seq(1L, 2L, 3L))
    assert(agg.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)) === Seq(3L, 2L))
    assert(agg.getSeq[org.apache.spark.sql.Row](2)
      .map(r => (r.getString(0), r.getLong(1))).toSet === Set("1" -> 2L, "0" -> 1L))
  }
}

package graft.perfbench

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Writes the analytics input: the ten tables `graft.sources.Tables`
  * reads (a TPC-H-like star schema, an `events` stream, a `documents`
  * corpus and unit-norm `embeddings`), at about the row counts of scale
  * factor 0.01. The content is fixed — generated from [[Seed]], not
  * from the run's seed — so the expected query results committed in
  * `expected_analytics.tsv` hold for every run. */
object AnalyticsTables {
  val Seed = 20240101L
  val Lineitems = 60000
  val Orders = 15000
  val Customers = 1500
  val Parts = 2000
  val Suppliers = 100
  val Events = 10000
  val Users = 150
  val Documents = 500
  val Embeddings = 500
  val Dim = 64

  private val words = ("a the key agg row scan slow fast table value part hash merge batch " +
    "spark line sort window order data column join small customer query filter " +
    "big stream group vector").split(" ")

  private def ts(s: String): Long =
    LocalDateTime.parse(s.replace(' ', 'T')).toEpochSecond(ZoneOffset.UTC) * 1000000L
  /** Timestamps are written without a zone (parquet TIMESTAMP with
    * isAdjustedToUTC=false), as the engine's test data has them. */
  private def at(us: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(us / 1000000L, ((us % 1000000L) * 1000L).toInt, ZoneOffset.UTC)

  def write(spark: SparkSession, dir: String): Unit = {
    val rng = new scala.util.Random(Seed)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.option("compression", "snappy").parquet(s"$dir/$name.parquet")
    def money(lo: Double, hi: Double) = math.round((lo + rng.nextDouble() * (hi - lo)) * 100) / 100.0

    save("region", StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    save("nation", StructType(Seq(StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save("customer", StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
      (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d", rng.nextInt(25),
        money(-999, 9999), Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")(rng.nextInt(5)))))
    save("supplier", StructType(Seq(StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
      (0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", rng.nextInt(25), money(-999, 9999))))
    val adjectives = Seq("red", "small", "hot", "old", "blue", "big")
    val nouns = Seq("plate", "widget", "ring", "rod", "gear", "bolt")
    save("part", StructType(Seq(StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType), StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
      (0 until Parts).map(i => Row(i.toLong,
        s"${adjectives(rng.nextInt(adjectives.size))} ${nouns(rng.nextInt(nouns.size))}",
        s"Brand#${1 + rng.nextInt(25)}",
        Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")(rng.nextInt(6)),
        1 + rng.nextInt(50), 900.0 + (i % 1000) / 10.0)))

    val day = 86400L * 1000000L
    val orderStart = ts("1995-01-01 00:00:00")
    val orderDays = ((ts("2001-08-01 00:00:00") - orderStart) / day).toInt
    val orderDate = Array.fill(Orders)(orderStart + rng.nextInt(orderDays + 1) * day)
    save("orders", StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType))),
      (0 until Orders).map(i => Row(i.toLong, rng.nextInt(Customers).toLong,
        Seq("F", "O", "P")(rng.nextInt(3)), money(1000, 500000), at(orderDate(i)),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(rng.nextInt(5)))))
    save("lineitem", StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampNTZType))),
      (0 until Lineitems).map { _ =>
        val o = rng.nextInt(Orders)
        Row(o.toLong, rng.nextInt(Parts).toLong, rng.nextInt(Suppliers).toLong, 1 + rng.nextInt(7),
          (1 + rng.nextInt(50)).toDouble, money(900, 100000), rng.nextInt(11) / 100.0,
          rng.nextInt(9) / 100.0, Seq("A", "N", "R")(rng.nextInt(3)), Seq("F", "O")(rng.nextInt(2)),
          at(orderDate(o) + (1 + rng.nextInt(120)) * day))
      })

    val eventStart = ts("2024-01-01 00:00:00")
    var clock = eventStart
    save("events", StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      (0 until Events).map { i =>
        clock += 1 + (rng.nextDouble() * 518000000L).toLong
        Row(i.toLong, at(clock), rng.nextInt(Users).toLong,
          Seq("click", "error", "purchase", "signup", "view")(rng.nextInt(5)),
          math.max(0.01, math.round(-math.log(1 - rng.nextDouble()) * 5000) / 100.0),
          s"""{"k": ${rng.nextInt(100)}}""")
      })

    val langs = Seq("en", "en", "en", "zh", "es", "de", "fr")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val docs = (0 until Documents).map { i =>
      // One document in ten rewrites an earlier one with a single word
      // changed, so near-duplicate detection has work to do.
      val text =
        if (i > 10 && rng.nextInt(10) == 0) {
          val w = texts(rng.nextInt(texts.length)).split(" ")
          w(rng.nextInt(w.length)) = words(rng.nextInt(words.length))
          w.mkString(" ")
        } else Seq.fill(8 + rng.nextInt(90))(words(rng.nextInt(words.length))).mkString(" ")
      texts += text
      Row(i.toLong, text, langs(rng.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
    }
    save("documents", StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType))), docs)

    val centers = Array.fill(10, Dim)(rng.nextGaussian())
    save("embeddings", StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)), StructField("label", IntegerType))),
      (0 until Embeddings).map { i =>
        val label = rng.nextInt(10)
        val v = centers(label).map(_ + 0.6 * rng.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}

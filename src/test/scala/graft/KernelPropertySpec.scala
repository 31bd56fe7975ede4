package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Sketches

/** Seeded property tests for the custom kernels: each native fast path
  * is checked against an independent (slow, obviously-correct)
  * formulation on randomized inputs.
  */
class KernelPropertySpec extends AnyFunSuite {
  import SparkTestSession._

  private val rng = new scala.util.Random(1234)

  private def randText(maxWords: Int): String = {
    val vocab = Vector("alpha", "beta", "Gamma", "DELTA", "e", "zeta7", "x,y", "a")
    Seq.fill(rng.nextInt(maxWords))(vocab(rng.nextInt(vocab.length)))
      .mkString(" ")
  }

  test("wordShingles matches the reference split/sliding/distinct formulation") {
    def oracle(text: String, k: Int): Seq[String] = {
      val w = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (w.isEmpty) Seq.empty
      else w.sliding(math.min(k, w.length)).map(_.mkString(" ")).toSeq.distinct
    }
    (1 to 300).foreach { _ =>
      val t = randText(30)
      val k = 1 + rng.nextInt(4)
      val got = Sketches.wordShingles(UTF8String.fromString(t), k)
        .toObjectArray(org.apache.spark.sql.types.StringType).map(_.toString).toSeq
      assert(got === oracle(t, k), s"text='$t' k=$k")
    }
  }

  test("winnow guarantee: shared substring of length >= k+w-1 shares a fingerprint") {
    val k = 8; val w = 4
    (1 to 100).foreach { _ =>
      val shared = Seq.fill(k + w - 1 + rng.nextInt(20))(('a' + rng.nextInt(26)).toChar).mkString
      val a = randText(10) + " " + shared + " " + randText(10)
      val b = randText(10) + " " + shared + " " + randText(10)
      val fa = Sketches.winnow(UTF8String.fromString(a), k, w).toLongArray().toSet
      val fb = Sketches.winnow(UTF8String.fromString(b), k, w).toLongArray().toSet
      assert((fa & fb).nonEmpty, s"no shared fingerprint for shared '$shared'")
    }
  }

  test("topk_by_score equals a sort-based oracle, including duplicate scores") {
    val sparkS = spark
    import sparkS.implicits._
    (1 to 10).foreach { _ =>
      val n = 50 + rng.nextInt(200)
      // few distinct scores => many ties, exercising the tie-break
      val rows = (0 until n).map(i => (rng.nextInt(3).toLong, rng.nextInt(8) / 7.0, i.toLong))
      val k = 1 + rng.nextInt(12)
      val got = rows.toDF("g", "score", "id").repartition(5)
        .groupBy("g")
        .agg(graft.functions.TopKByScore.topkByScore(col("score"), col("id"), k).as("top"))
        .collect()
        .map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getDouble(0), x.getLong(1))))
        .toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(t => (t._2, t._3)).sortBy { case (s, i) => (-s, i) }.take(k)
      }
      assert(got.keySet === want.keySet)
      got.foreach { case (g, top) => assert(top === want(g), s"group $g k=$k") }
    }
  }

  test("collect_set_limit boundary: exactly at the limit survives") {
    val sparkS = spark
    import sparkS.implicits._
    val df = (1 to 10).map(i => ("g", i.toLong)).toDF("g", "id").repartition(4)
    def run(limit: Int) = df.groupBy("g")
      .agg(graft.functions.CollectSetLimit.collectSetLimit(col("id"), limit).as("ids"))
      .collect().head.getSeq[Long](1)
    assert(run(10) === (1L to 10L).toSeq)
    assert(Option(run(9)) === None)
  }

  test("as-of merge: every direction matches brute force on random series") {
    val sparkS = spark
    import sparkS.implicits._
    // Dense keys and a tiny time domain force collisions: equal-time
    // ties, exact-distance ties, empty sides, and both-side candidates
    // all occur across the trials.
    (1 to 5).foreach { trial =>
      val nL = 40 + rng.nextInt(60)
      val nR = 40 + rng.nextInt(60)
      val lRows = (1 to nL).map(i =>
        (rng.nextInt(5).toLong, rng.nextInt(30).toLong, i.toLong))
      val rRows = (1 to nR).map(i =>
        (rng.nextInt(5).toLong, rng.nextInt(30).toLong, i.toLong))
      val tol = if (rng.nextBoolean()) rng.nextInt(8).toLong else -1L
      val left = lRows.toDF("k", "t", "id").repartition(3)
      val right = rRows.toDF("rk", "rt", "rid").repartition(4)

      def brute(dir: String, exact: Boolean): Map[Long, Option[Long]] =
        lRows.map { case (k, t, id) =>
          val back = rRows.filter(r => r._1 == k &&
            (if (exact) r._2 <= t else r._2 < t) &&
            (tol < 0 || t - r._2 <= tol))
            .sortBy(r => (r._2, r._3)).lastOption
          val fwd = rRows.filter(r => r._1 == k &&
            (if (exact) r._2 >= t else r._2 > t) &&
            (tol < 0 || r._2 - t <= tol))
            .sortBy(r => (r._2, r._3)).headOption
          val pick = dir match {
            case "backward" => back
            case "forward"  => fwd
            case "nearest"  => (back, fwd) match {
              case (Some(b), Some(f)) =>
                // forward candidates at distance 0 were consumed backward,
                // and ties keep backward either way
                if (t - b._2 <= f._2 - t) Some(b) else Some(f)
              case (b, f) => b.orElse(f)
            }
          }
          id -> pick.map(_._3)
        }.toMap

      for {
        dir <- Seq("backward", "forward", "nearest")
        exact <- Seq(true, false)
      } {
        val got = graft.plans.AsOf.asofJoin(left, right,
            Seq(left("k")), Seq(right("rk")), left("t"), right("rt"),
            toleranceUs = tol, rightSeq = Seq(right("rid")), direction = dir,
            allowExactMatches = exact)
          .select(col("id"), col("rid")).collect()
          .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
          .toMap
        assert(got === brute(dir, exact),
          s"trial=$trial dir=$dir exact=$exact tol=$tol")
      }
    }
  }

  test("two-level bucketed quantiles equal brute-force quantile_cont on random groups") {
    // The rewritten quantileAgg selects order statistics through
    // bucket counts + prefix offsets + bucket-local sorts; the lerp
    // and cents rounding must land bit-identically on the value the
    // straight sorted-array formulation picks — including duplicate
    // values, bucket-boundary values (exact multiples of the width),
    // negatives, and 1-row groups (no upper bracket).
    val sparkS = spark
    import sparkS.implicits._
    def bruteQ(vs: Seq[Double], p: Double): Double = {
      val s = vs.sorted
      val idx = p * (s.length - 1)
      val lo = math.floor(idx).toInt
      val f = idx - lo
      val hi = if (lo + 1 < s.length) s(lo + 1) else s(lo)
      val lerp = s(lo) * (1.0 - f) + hi * f
      // Spark's round(x, 0) semantics: BigDecimal HALF_UP.
      new java.math.BigDecimal(lerp * 100.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() / 100.0
    }
    (1 to 8).foreach { trial =>
      val flags = Seq("A", "B", "C").take(1 + rng.nextInt(3))
      val rows = flags.flatMap { fl =>
        val n = 1 + rng.nextInt(60)
        Seq.fill(n)(fl -> (rng.nextInt(7) match {
          case 0 => rng.nextInt(5) * 100.0            // exact bucket cuts
          case 1 => -rng.nextDouble() * 250.0         // negatives
          case 2 => 100.0                             // heavy duplicate
          case _ => rng.nextDouble() * 1000.0
        }))
      }
      val dir = s"/tmp/graft-test-quantile/t$trial"
      rows.toDF("l_returnflag", "l_extendedprice")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val got = graft.operators.Relational.quantileAgg(spark, dir).collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
        .toMap
      val want = rows.groupBy(_._1).map { case (fl, g) =>
        val vs = g.map(_._2)
        fl -> (bruteQ(vs, 0.5), bruteQ(vs, 0.95), bruteQ(vs, 0.99), vs.length.toLong)
      }
      assert(got === want, s"trial=$trial: $got vs $want")
    }
  }

  test("cusum_seq kernel equals a naive fold on random series") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    (1 to 200).foreach { trial =>
      val n = rng.nextInt(50)
      val xs = Array.fill(n)(rng.nextInt(4) match {
        case 0 => 0.0
        case 1 => rng.nextInt(10).toDouble
        case _ => rng.nextDouble() * 20.0
      })
      val mean = rng.nextDouble() * 10.0
      val std = if (rng.nextBoolean()) rng.nextDouble() * 5.0 else 0.0
      val got = graft.functions.CusumSeq.run(new GenericArrayData(xs), mean, std)
      val slack = 0.5 * std
      var sp = 0.0; var sn = 0.0
      xs.zipWithIndex.foreach { case (x, i) =>
        sp = math.max(0.0, sp + ((x - mean) - slack))
        sn = math.max(0.0, sn + ((mean - x) - slack))
        val row = got.getStruct(i, 2)
        assert(row.getDouble(0) === sp && row.getDouble(1) === sn,
          s"trial=$trial i=$i")
      }
      assert(got.numElements() === n)
    }
  }

  test("holt_seq with beta = 0 is the EWMA fold, bit for bit, with b = +0.0 throughout") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // Own generator: the suite-level rng feeds the other cases in order.
    val r = new scala.util.Random(4321)
    def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    (0 to 300).foreach { trial =>
      // Non-negative integer series, as the hourly counts are; the
      // first trials pin the empty and 1-element edges.
      val n = if (trial < 2) trial else r.nextInt(60)
      val xs = Array.fill(n)(r.nextInt(if (r.nextBoolean()) 5 else 1000).toDouble)
      val alpha = trial % 4 match {
        case 0 => 0.25
        case 1 => 0.5
        case 2 => 1.0
        case _ => r.nextDouble()
      }
      val got = graft.functions.HoltSeq.run(new GenericArrayData(xs), alpha, 0.0)
      assert(got.numElements() === n)
      var s = 0.0
      xs.zipWithIndex.foreach { case (x, i) =>
        val err = if (i == 0) { s = x; 0.0 } else { val e = x - s; s = s + alpha * e; e }
        val row = got.getStruct(i, 3)
        assert(bits(row.getDouble(0)) === bits(s), s"trial=$trial i=$i level")
        assert(bits(row.getDouble(1)) === bits(0.0), s"trial=$trial i=$i trend")
        assert(bits(row.getDouble(2)) === bits(err), s"trial=$trial i=$i err")
      }
    }
  }

  test("seq recurrences reject nullable-element arrays at analysis (the r8 getDouble fix)") {
    // run() reads slots via getDouble, which cannot represent null — a
    // containsNull=true array must fail at ANALYSIS with the typed
    // message, never be read as undefined values. array(x, NULL)
    // naturally types as array<double> with nullable elements.
    val df = spark.range(1).select(
      array(lit(1.0), lit(null).cast("double")).as("xs"))
    def rejects(c: org.apache.spark.sql.Column, name: String): Unit = {
      val msg = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(c).collect()
      }.getMessage
      assert(msg.contains(s"$name requires array<double> with non-nullable elements"),
        s"$name: wrong analysis error:\n$msg")
    }
    rejects(graft.functions.HoltSeq.holtSeq(col("xs"), lit(0.5), lit(0.3)), "holt_seq")
    rejects(graft.functions.CusumSeq.cusumSeq(col("xs"), lit(0.0), lit(1.0)), "cusum_seq")
    // Happy path unharmed: a non-nullable array still runs.
    val ok = spark.range(1)
      .select(graft.functions.HoltSeq.holtSeq(
        array(lit(1.0), lit(3.0)), lit(0.5), lit(0.0)).as("p"))
      .selectExpr("p[1].l").head().getDouble(0)
    assert(ok === 2.0)
  }

  test("d4w keeps >10^6 magnitudes that d4's DECIMAL(10,4) ANSI cast aborts on (the r8 KMV fix)") {
    // The planted regime the r8 diff exists for: a KMV distinct-user
    // estimate past 10^6 — d4's DECIMAL(10,4) has only 6 integer
    // digits, so under ANSI the cast ABORTS exactly on strong-signal
    // inputs; d4w's DECIMAL(28,4) carries it. 0.890625 = 57/64 is
    // binary-exact, so both engines' ROUND(x, 4) sees the same digits
    // and the expected value is closed-form.
    val big = 1234567.890625
    val viaD4w = spark.range(1)
      .select(graft.functions.Exact.d4w(lit(big)).as("v")).head().getDouble(0)
    // The oracle side of the same value: DuckDB's
    // CAST(CAST(ROUND(x,4) AS DECIMAL(28,4)) AS DOUBLE) — half-up at
    // the 4th place, then exact decimal->double.
    val oracle = BigDecimal(big)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(viaD4w === oracle && viaD4w === 1234567.8906)
    val err = intercept[Throwable] {
      spark.range(1).select(graft.functions.Exact.d4(lit(big))).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
    assert(chain(err).exists(m => m != null &&
      (m.contains("NUMERIC_VALUE_OUT_OF_RANGE") || m.contains("CAST_OVERFLOW")
        || m.contains("cannot be represented"))),
      s"d4 must abort past 10^6 under ANSI; got: ${chain(err).mkString(" | ")}")
  }

  test("ratio4 resolves the decimal ties where ROUND(a/b, 4) is engine-dependent (the r12 sf1 catch)") {
    // The live instance: text_lm_score's sum_ppb=1304827578 over
    // n=40 bigrams, mean ppm = sum/n/1000 — EXACTLY 32620.68945, a
    // 5th-decimal tie no binary double represents. The ORIGINAL
    // chained-division form lands on a double just below the tie, so
    // Spark's BigDecimal HALF_UP printed .6894 while DuckDB's scaled
    // C round (which re-rounds x·10⁴ onto exactly the tie) printed
    // .6895 — the sf1 hash mismatch. ratio4's single x10⁴-scaled
    // division produces the exact decimal HALF_UP answer.
    val viaRatio4 = spark.range(1)
      .select(graft.functions.Exact.ratio4(lit(1304827578L) * 10, lit(40000L) * 10))
      .head().getDouble(0)
    assert(viaRatio4 === 32620.6895, "single-division integer HALF_UP")
    val viaChained = spark.range(1)
      .select(graft.functions.Exact.d4w(
        lit(1304827578L).cast("double") / lit(40.0) / lit(1000.0)))
      .head().getDouble(0)
    assert(viaChained === 32620.6894,
      "the chained-division form loses the tie — the defect ratio4 exists to fix")
    // Tie class membership: denominators 32·5^t (t >= 1) in lowest
    // terms; a few more planted members round correctly through ratio4.
    Seq((1L, 160L, 0.0063), (3L, 160L, 0.0188), (7L, 800L, 0.0088))
      .foreach { case (n, d, want) =>
        val got = spark.range(1)
          .select(graft.functions.Exact.ratio4(lit(n), lit(d)))
          .head().getDouble(0)
        assert(got === want, s"$n/$d")
      }
    // Negative ratios round away from zero on both engines.
    val neg = spark.range(1)
      .select(graft.functions.Exact.ratio4(lit(-1304827578L), lit(40000L)))
      .head().getDouble(0)
    assert(neg === -32620.6895)
  }

  test("ratio4 headroom: DECIMAL(38,0) scaling carries past the old LONG x10^4 abort (r13)") {
    import graft.functions.Exact
    // Boundary 1 — num = 9e11, the last decade where num·10⁴ is still
    // an exact double (9e15 < 2⁵³): the decimal path must be
    // bit-identical to the pre-r13 LONG scaling, asserted by running
    // the retired formula inline beside the kernel.
    val numA = 900000000000L
    val oldForm = round((lit(numA) * lit(10000L)).cast("double") /
        lit(160L).cast("double"), 0)
      .cast("long").cast("double") / lit(10000.0)
    val Row(nu: Double, ol: Double) = spark.range(1)
      .select(Exact.ratio4(lit(numA), lit(160L)), oldForm).head()
    assert(nu === ol && nu === 5.625e9, "in-range parity with the LONG path")
    // Boundary 2 — num = 9.3e14: num·10⁴ = 9.3e18 > 2⁶³−1, where the
    // LONG scaling ANSI-aborted (the corpus char/byte-total class from
    // VERDICT r12 #3). The decimal path presents the correctly-rounded
    // value: decimal→double is BigDecimal.doubleValue round-to-nearest,
    // replayed here exactly.
    val numB = 930000000000000L
    val gotB = spark.range(1)
      .select(Exact.ratio4(lit(numB), lit(1L))).head().getDouble(0)
    val expB = (BigDecimal(numB) * 10000).toDouble / 10000.0
    assert(gotB === expB, "past-2^63 scaled numerator presents instead of aborting")
    val errB = intercept[Throwable] {
      spark.range(1)
        .select((lit(numB) * lit(10000L)).cast("double")).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
    assert(chain(errB).exists(m => m != null &&
      (m.contains("ARITHMETIC_OVERFLOW") || m.contains("overflow"))),
      s"the retired LONG scaling aborts here; got: ${chain(errB).mkString(" | ")}")
    // Fractional-input guard (ADVICE r12): operands ROUND before the
    // decimal cast, so an accidental 3.7 numerator rounds half-up to 4
    // (both engines) instead of Spark truncating to 3 alone.
    val frac = spark.range(1)
      .select(Exact.ratio4(lit(3.7), lit(1L))).head().getDouble(0)
    assert(frac === 4.0, "fractional inputs round half-up, never truncate")
  }

  test("jacobi eigen: orthonormal basis reconstructing random symmetric matrices") {
    (1 to 50).foreach { trial =>
      val d = 2 + rng.nextInt(12)
      val m = Array.ofDim[Double](d, d)
      for (i <- 0 until d; j <- i until d) {
        val v = (rng.nextDouble() - 0.5) * 10.0
        m(i)(j) = v; m(j)(i) = v
      }
      val (vals, vecs) = graft.similarity.Pca.jacobiEigen(m)
      // Descending eigenvalues.
      assert(vals.zip(vals.tail).forall { case (a, b) => a >= b - 1e-9 })
      // Orthonormal rows.
      for (a <- 0 until d; b <- a until d) {
        val dot = (0 until d).map(k => vecs(a)(k) * vecs(b)(k)).sum
        val target = if (a == b) 1.0 else 0.0
        assert(math.abs(dot - target) < 1e-8, s"trial=$trial ortho($a,$b)=$dot")
      }
      // Every pair satisfies M v = lambda v to numeric tolerance.
      val scale = math.max(1.0, vals.map(math.abs).max)
      for (c <- 0 until d; r <- 0 until d) {
        val mv = (0 until d).map(k => m(r)(k) * vecs(c)(k)).sum
        assert(math.abs(mv - vals(c) * vecs(c)(r)) < 1e-7 * scale,
          s"trial=$trial eigpair $c row $r")
      }
    }
  }

  test("value-cut quantile assignment equals brute-force ceil(k·F(x)) on random data") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    for (trial <- 0 until 10) {
      val k = Seq(4, 10)(trial % 2)
      val n = 50 + rng.nextInt(300)
      // Heavy-tie regimes included: small value domains force shared
      // quantiles and (at the extreme) empty ones — the NULL-cut path.
      val domain = Seq(3L, 20L, 1000000L)(trial % 3)
      val vals = Seq.fill(n)(rng.nextLong().abs % domain)
      val melted = vals.toDF("v").select(lit("m").as("metric"), col("v"))
      val cuts = graft.operators.Relational.valueCuts(
        melted, Map("m" -> math.max(domain / 7, 1L)), k).collect().head
      val cutCols = (1 until k).map(i =>
        if (cuts.isNullAt(cuts.fieldIndex(s"m_c$i"))) None
        else Some(cuts.getAs[Long](s"m_c$i")))
      // Brute force: q(x) = ceil(k * |{y <= x}| / n), ties share.
      val sorted = vals.sorted
      def brute(x: Long): Long = {
        val cum = sorted.count(_ <= x).toLong
        (k * cum + n - 1) / n
      }
      vals.distinct.foreach { x =>
        val assigned = 1L + cutCols.count {
          case Some(c) => x > c
          case None    => true // empty quantile = -inf cut
        }
        assert(assigned === brute(x),
          s"trial=$trial k=$k domain=$domain x=$x: cut-assignment $assigned != brute ${brute(x)}")
      }
    }
  }

  test("ArrayPairs kernels equal the naive pair formulations on random arrays") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions.col
    val vocab = Vector("a", "bb", "", "d e", "ZZ", "ß")
    for (_ <- 0 until 20) {
      val arr = Seq.fill(rng.nextInt(8))(vocab(rng.nextInt(vocab.length)))
      val df = Seq(Tuple1(arr)).toDF("xs")
      val adj = df.select(graft.functions.ArrayPairs.adjacentPairs(col("xs")).as("p"))
        .collect().head.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getString(0), r.getString(1)))
      assert(adj === arr.sliding(2).filter(_.length == 2)
        .map(w => (w(0), w(1))).toSeq, s"adjacent mismatch on $arr")
      val comb = df.select(graft.functions.ArrayPairs.combinations(col("xs")).as("p"))
        .collect().head.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getString(0), r.getString(1)))
      val naive = for {
        i <- arr.indices; j <- (i + 1) until arr.length
      } yield (arr(i), arr(j))
      assert(comb === naive, s"combinations mismatch on $arr")
    }
  }
}

package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Tables

/** Distributed BPE tokenizer TRAINING (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") — the step
  * [[Text.vocab]] only reports inputs for: learn the ordered merge
  * table that IS a byte-pair tokenizer.
  *
  * Scale shape — the load-bearing fact is WHERE the loop runs: the
  * corpus is touched exactly once, by the same pre-tokenizer scan
  * text_vocab uses, collapsing it into a WORD-FREQUENCY table whose
  * row count is the distinct-word vocabulary (Zipf-bounded,
  * dimension-sized — this is how production subword trainers work on
  * large corpora), and every BPE round after that is two small
  * distributed jobs over that frame: an adjacent-pair count
  * aggregation, and the merge applied as a higher-order fold — never
  * another corpus pass. The only driver-side values are the per-round
  * argmax pair (ONE row per round, the bounded-scalar class the CC
  * loops' convergence signatures established) and the final
  * ≤`nMerges`-row merge table itself — the tokenizer artifact.
  * Lineage is truncated with `localCheckpoint` every few rounds
  * exactly like the dedup_clusters loop.
  */
object Bpe {

  /** Classic end-of-word sentinel: merges never cross word
    * boundaries, and a merged token ending in it marks a full-word
    * token. */
  val WordEnd = "</w>"

  /** struct(a, b) for every adjacent symbol pair of `syms`, in
    * order: pair i = (syms[i], syms[i+1]). */
  private def adjacentPairs(syms: Column): Column =
    transform(slice(syms, lit(1), size(syms) - 1),
      (s, i) => struct(s.as("a"),
        element_at(syms, (i + 2).cast("int")).as("b")))

  /** One BPE merge applied left-to-right as a fold: append each
    * symbol, but when the accumulator ends in `a` and the next symbol
    * is `b`, replace that tail with the merged token. The `get`
    * (0-based, null out of range) keeps the empty-accumulator probe
    * ANSI-safe, and the leftmost-first greedy semantics ("aaa" with
    * merge (a,a) → ["aa", "a"]) are exactly the reference BPE
    * behavior the in-memory spec oracle replays. */
  private def mergePair(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(
        get(acc, size(acc) - 1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** #44l text_bpe_train: the ordered merge table — columns
    * (rank, left, right, merged, pair_count), where pair_count is the
    * word-frequency-weighted corpus occurrence count of the pair at
    * merge time. Deterministic: count ties break on (left, right)
    * lexicographically, so the table is exact and the ScalaTest
    * oracle asserts it verbatim (not SQL-expressible — the loop's
    * argmax feeds the next round — so the driver entry is rows-only
    * by design, like the sketches). */
  def train(spark: SparkSession, dir: String, nMerges: Int = 25): DataFrame = {
    import spark.implicits._
    trainedMerges(spark, dir, nMerges)
      .toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** The learned merge table as driver-side rows, memoized per
    * (session, dir, nMerges) so [[train]] and [[encode]] share one
    * training run within a driver session. */
  private val mergeCache = new graft.functions.SessionScopedCache[
    Seq[(Int, String, String, String, Long)]]("text.bpe_merges")
  private def trainedMerges(spark: SparkSession, dir: String, nMerges: Int)
      : Seq[(Int, String, String, String, Long)] =
    mergeCache.getOrCompute(spark, dir, nMerges.toString)(runTraining(spark, dir, nMerges))

  private def runTraining(spark: SparkSession, dir: String, nMerges: Int)
      : Seq[(Int, String, String, String, Long)] = {
    val words = Tables.documents(spark, dir)
      .select(explode(regexp_extract_all(lower(col("text")),
        lit(Text.BpePattern), lit(0))).as("word"))
      // Malformed-input guard: no unbounded symbol arrays from a
      // pathological unbroken "word" (same cap class as the df caps
      // in the dedup inverted indexes).
      .filter(length(col("word")) <= 64)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        concat(split(col("word"), ""), array(lit(WordEnd))).as("syms"))
    var cur = words.localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val top = cur
        .select(col("freq"), explode(adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect() // ONE row: this round's argmax pair
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += ((rank, a, b, a + b, cnt))
        cur = cur.withColumn("syms", mergePair(col("syms"), a, b))
        if (rank % 5 == 0) cur = cur.localCheckpoint()
        rank += 1
      }
    }
    merges.result()
  }

  /** Rank-greedy BPE encode of ONE pre-token — the canonical
    * apply-side algorithm: start from the code points plus
    * [[WordEnd]], repeatedly merge the lowest-rank adjacent pair
    * present in the table (leftmost occurrence on rank ties) until
    * none applies. Static so the codegen'd expression calls it
    * directly; `ranks` maps left + NUL + right (the U+0000 separator,
    * written as a string escape so the file stays text to grep/diff)
    * → merge rank. */
  def encodeWord(word: UTF8String,
      ranks: java.util.HashMap[String, Integer]): ArrayData = {
    val s = word.toString
    val syms = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      syms += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    syms += WordEnd
    var merging = true
    while (merging && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      var j = 0
      while (j < syms.length - 1) {
        val r = ranks.get(syms(j) + "\u0000" + syms(j + 1))
        if (r != null && r < bestRank) { bestRank = r; bestIdx = j }
        j += 1
      }
      if (bestIdx < 0) merging = false
      else {
        syms(bestIdx) = syms(bestIdx) + syms(bestIdx + 1)
        syms.remove(bestIdx + 1)
      }
    }
    new GenericArrayData(syms.map(UTF8String.fromString).toArray[Any])
  }

  def bpeEncode(word: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeEncode(ColumnBridge.expression(word), merges))

  /** #44n text_bpe_encode: tokenize the corpus with the LEARNED merge
    * table — §44l's training (memoized, so the two driver queries
    * share one run) followed by a codegen'd rank-greedy encode of
    * every pre-token and a doc-keyed rollup: token counts, chars per
    * token, and a per-doc losslessness check (the concatenated tokens
    * must spell the word + WordEnd back — a tokenizer that cannot
    * reconstruct its input is broken).
    *
    * Scale shape: train cost is §44l's (dimension-sized rounds); the
    * encode is a pure map fused into the pre-token explode, and the
    * report is one doc_id-keyed map-side-combinable aggregation —
    * the same single-shuffle shape as the other per-doc text
    * operators. Rows-only by design (the table it applies is the
    * iterative §44l artifact); exact-replay ScalaTest oracle. */
  def encode(spark: SparkSession, dir: String, nMerges: Int = 25): DataFrame = {
    val merges = trainedMerges(spark, dir, nMerges).map(m => (m._2, m._3))
    val toks = bpeEncode(col("word"), merges)
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(regexp_extract_all(lower(col("text")),
        lit(Text.BpePattern), lit(0))).as("word"))
      .select(col("doc_id"), col("word"), toks.as("toks"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(size(col("toks"))).as("n_bpe_tokens"),
        sum(length(col("word"))).as("n_chars"),
        min(when(concat_ws("", col("toks")) ===
          concat(col("word"), lit(WordEnd)), 1).otherwise(0)).as("lossless"))
      .orderBy(col("doc_id"))
  }

  /** #44y text_bpe_fertility: per-(lang, source) tokenizer FERTILITY
    * report from the learned merge table — the standard
    * tokenizer-evaluation slice (tokens per word, chars per token) a
    * multilingual corpus publishes before a tokenizer is frozen: a
    * tokenizer trained on one language mix quietly taxes the
    * under-represented slices (more tokens for the same text = less
    * effective context and compute per document), and THIS report is
    * where that tax shows up, per corpus slice. Fertility =
    * bpe_tokens/words and chars-per-token = chars/bpe_tokens are
    * integer-count [[graft.functions.Exact.ratio4]] ratios, so the
    * whole report sits under the hash gate.
    *
    * Scale shape: identical to [[encode]] — the memoized training
    * rides §44l, the merge table is a plan-embedded literal
    * (fitted-codebook pattern, no join), the encode is a codegen'd
    * map fused into the pre-token explode, and the rollup is ONE
    * map-side-combinable shuffle onto the (|langs| × |sources|)-sized
    * key — dimension-sized output whatever the corpus. */
  def fertility(spark: SparkSession, dir: String, nMerges: Int = 25): DataFrame = {
    val merges = trainedMerges(spark, dir, nMerges).map(m => (m._2, m._3))
    val toks = bpeEncode(col("word"), merges)
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"),
        explode(regexp_extract_all(lower(col("text")),
          lit(Text.BpePattern), lit(0))).as("word"))
      .select(col("lang"), col("source"),
        size(toks).as("n_toks"), length(col("word")).as("len"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_toks")).as("n_bpe_tokens"),
        sum(col("len")).as("n_chars"))
      .select(col("lang"), col("source"),
        col("n_words"), col("n_bpe_tokens"), col("n_chars"),
        graft.functions.Exact.ratio4(col("n_bpe_tokens"), col("n_words"))
          .as("fertility"),
        graft.functions.Exact.ratio4(col("n_chars"), col("n_bpe_tokens"))
          .as("chars_per_token"))
      .orderBy(col("lang"), col("source"))
  }
}

/** `bpe_encode(word)` with an embedded learned merge table: the
  * apply side of BPE as a native codegen'd expression (no UDF in the
  * hot path). The table is structural state, like the fitted
  * codebooks in [[graft.functions.Centroids]]; `merges` is a Seq of
  * string pairs, so case-class equality stays structural. */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_encode requires string, got $other")
  }

  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.put(a + "\u0000" + b, Integer.valueOf(i))
    }
    m
  }

  override def nullSafeEval(input: Any): Any =
    Bpe.encodeWord(input.asInstanceOf[UTF8String], ranks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ranks", ranks, "java.util.HashMap")
    defineCodeGen(ctx, ev, c => s"graft.text.Bpe.encodeWord($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

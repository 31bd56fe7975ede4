package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions._

/** SQL surface for graft's native expressions.
  *
  * Register with `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`; afterwards every graft
  * kernel is callable from plain SQL, e.g.
  * `SELECT cassandra_token(key), simhash64(word_shingles(text, 3))`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a literal int argument, got $other")
  }

  private def longArg(e: Expression, name: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _)  => v.toLong
    case other => throw new IllegalArgumentException(
      s"$name expects a literal long argument, got $other")
  }

  private def fn(name: String, arity: String, usage: String)(
      builder: Seq[Expression] => Expression): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (new FunctionIdentifier(name),
      // The full 11-arg constructor is the one non-deprecated form
      // that still carries usage text (the 5-arg shorthand was
      // deprecated in 3.0); arity rides in `arguments`.
      new ExpressionInfo("graft", null, name, usage, arity,
        "", "", "", "", "", "built-in"),
      builder)

  private val functions = Seq(
    fn("cassandra_token", "1", "Cassandra Murmur3Partitioner token of a string/binary key") {
      args => CassandraMurmur3Token(args.head)
    },
    fn("word_shingles", "2", "distinct lowercase k-word shingles of a string") {
      args => WordShingles(args(0), intArg(args(1), "word_shingles"))
    },
    fn("minhash_sigs", "2", "k-entry MinHash signature of array<string>") {
      args => MinHashSignature(args(0), intArg(args(1), "minhash_sigs"))
    },
    fn("band_hashes", "2", "per-band mixed keys of a signature array") {
      args => BandHashes(args(0), intArg(args(1), "band_hashes"))
    },
    fn("simhash64", "1", "64-bit SimHash of array<string>") {
      args => SimHash64(args.head)
    },
    fn("hamming64", "2", "Hamming distance of two 64-bit fingerprints") {
      args => Hamming64(args(0), args(1))
    },
    fn("cosine_sim", "2", "cosine similarity of two array<float> vectors") {
      args => CosineSim(args(0), args(1))
    },
    fn("hyperplane_bits", "4", "random-hyperplane LSH bucket (vec, seed, nbits, dim)") {
      args => HyperplaneBits(args(0), longArg(args(1), "hyperplane_bits"),
        intArg(args(2), "hyperplane_bits"), intArg(args(3), "hyperplane_bits"))
    },
    fn("winnow_fingerprint", "3", "winnowed rolling-hash fingerprints (text, k, w)") {
      args => WinnowFingerprint(args(0), intArg(args(1), "winnow_fingerprint"),
        intArg(args(2), "winnow_fingerprint"))
    },
    fn("random_partitioner_token", "1",
      "Cassandra RandomPartitioner token (abs of MD5 as 128-bit two's-complement, hex)") {
      args => CassandraRandomMd5Token(args.head)
    },
    fn("sorted_pairs", "1", "all (a, b) pairs with a before b (array order) of an array<bigint>") {
      args => SortedPairs(args.head)
    },
    fn("counter_long", "1", "8-byte big-endian Cassandra counter shard as bigint") {
      args => CounterLong(args.head)
    },
    fn("long_binary", "1", "bigint as 8-byte big-endian binary") {
      args => LongBinary(args.head)
    },
    fn("frozen_list_elements", "1",
      "elements of a migrated FROZEN list/set blob as array<binary>") {
      args => FrozenListElements(args.head)
    },
    fn("frozen_map_entries", "1",
      "entries of a migrated FROZEN map blob as array<struct<key,value binary>>") {
      args => FrozenMapEntries(args.head)
    },
    // Bounded-memory aggregates: the analyzer wraps a registered
    // AggregateFunction in its AggregateExpression, exactly like the
    // built-ins.
    fn("collect_set_limit", "2",
      "distinct bigints of a group, null once the set exceeds the limit") {
      args => CollectSetLimit(args(0), intArg(args(1), "collect_set_limit"))
    },
    fn("topk_by_score", "3",
      "k best (score, id) pairs of a group, score desc then id asc") {
      args => TopKByScore(args(0), args(1), intArg(args(2), "topk_by_score"))
    },
    fn("freq_sketch", "2",
      "mergeable Misra-Gries heavy hitters: <= k (item, count) counters") {
      args => FreqSketch(args(0), intArg(args(1), "freq_sketch"))
    })

  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.foreach(ext.injectFunction)
    // The as-of join's planner strategy: AsOfJoinApi registers it
    // lazily per session, but injecting it here means a pure
    // `spark.sql.extensions=graft.GraftExtensions` setup plans
    // AsOfJoinPlan nodes without any API call having run first.
    ext.injectPlannerStrategy(_ =>
      org.apache.spark.sql.graftbridge.AsOfJoinStrategy)
    // Likewise the generation merge of Kv.migrate (GenerationMergeApi
    // registers it lazily too).
    ext.injectPlannerStrategy(_ =>
      org.apache.spark.sql.graftbridge.GenerationMergeStrategy)
    // Ring-slice pushdown: WHERE cassandra_token(key) BETWEEN a AND b
    // over an SSTable read folds into the source's tokenMin/tokenMax
    // plan-time pruning (see the rule's guards).
    ext.injectOptimizerRule(_ => graft.sources.sstable.TokenRangePushdown)
  }
}

package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal-column pipeline (SURVEY.md §2.7 #45).
  *
  * The pattern for media at 100 TB: the payload is an opaque `binary`
  * column with typed metadata beside it; decode/feature-extract runs
  * batched per partition (the Scala analog of a vectorized decode UDF:
  * one library call per BATCH of payloads, never per row, because real
  * codecs amortize model/codec setup across a batch). The codec itself
  * is deliberately a deterministic stub — this container has no image
  * libs — but the Spark-side contract (schema, encoders, partition
  * batching, batch shape) is real and tested.
  */
object Multimodal {

  /** A media record: opaque payload + typed metadata. */
  case class MediaRow(
      doc_id: Long, payload: Array[Byte], format: String, width: Int, height: Int)

  /** Extracted features: fixed 8-dim vector + provenance. */
  case class MediaFeatures(
      doc_id: Long, format: String, n_bytes: Int, batch_size: Int, feat: Array[Float])

  val BatchSize = 64
  val FeatDim = 8

  /** Synthesize the media table from `documents`: payload = the UTF-8
    * bytes (stand-in for encoded image data), metadata derived
    * deterministically. In production this select IS the real shape —
    * parquet binary column + metadata struct. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        element_at(array(lit("jpeg"), lit("png"), lit("webp")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("format"),
        (pmod(col("doc_id"), lit(8)) * 64 + 64).cast("int").as("width"),
        (pmod(col("doc_id"), lit(4)) * 64 + 64).cast("int").as("height"))
      .as[MediaRow]
  }

  /** STUB decode + feature extraction for one BATCH of payloads.
    * Deterministic fake: an 8-bucket byte histogram, L1-normalized. A
    * real implementation would hand the whole batch to a native codec
    * here (that is the point of the batch signature). */
  def decodeBatch(batch: Seq[MediaRow]): Seq[MediaFeatures] = {
    val bs = batch.size
    batch.map { m =>
      val hist = new Array[Float](FeatDim)
      var i = 0
      while (i < m.payload.length) {
        hist((m.payload(i) & 0xff) % FeatDim) += 1f
        i += 1
      }
      val total = math.max(m.payload.length, 1).toFloat
      MediaFeatures(m.doc_id, m.format, m.payload.length, bs, hist.map(_ / total))
    }
  }

  /** Batched per-partition feature extraction: the partition iterator is
    * consumed in BatchSize groups, so codec setup amortizes and memory
    * stays bounded at batch × payload size regardless of partition size. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap(decodeBatch)
    }
  }

  /** STUB resize for one batch: recompute metadata to the target box
    * and proportionally truncate the payload (a real implementation
    * hands the batch to a codec; the contract — batch in, batch out,
    * metadata consistent with payload — is what's under test). */
  def resizeBatch(batch: Seq[MediaRow], maxW: Int, maxH: Int): Seq[MediaRow] =
    batch.map { m =>
      val scale = math.min(1.0,
        math.min(maxW.toDouble / m.width, maxH.toDouble / m.height))
      val nw = math.max(1, (m.width * scale).toInt)
      val nh = math.max(1, (m.height * scale).toInt)
      val nBytes = math.max(1, (m.payload.length * scale * scale).toInt)
      MediaRow(m.doc_id, m.payload.take(nBytes), m.format, nw, nh)
    }

  /** Batched resize over partitions (same batching contract as decode). */
  def resize(media: Dataset[MediaRow], maxW: Int, maxH: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(BatchSize).flatMap(resizeBatch(_, maxW, maxH)))
  }

  /** One sampled "frame" of a media payload. */
  case class Frame(doc_id: Long, frame_idx: Int, n_bytes: Int, checksum: Long)

  /** STUB frame sampling: treat the payload as fixed-size frames
    * (including the partial tail frame) and keep every `stride`-th
    * one — the video-path shape (explode one media row into few frame
    * rows, bounded by stride, never all frames). */
  def sampleFrames(media: Dataset[MediaRow], frameBytes: Int, stride: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      val nFrames = math.max(1, (m.payload.length + frameBytes - 1) / frameBytes)
      (0 until nFrames by stride).map { f =>
        val start = f * frameBytes
        val end = math.min(start + frameBytes, m.payload.length)
        var sum = 0L
        var i = start
        while (i < end) { sum = sum * 31 + (m.payload(i) & 0xff); i += 1 }
        Frame(m.doc_id, f, end - start, sum)
      }
    }
  }

  /** #45b mm_frame_sample: the video-path driver query — every media
    * payload treated as fixed-size frames, every `stride`-th frame
    * sampled and fingerprinted (md5 over the frame's hex rendition),
    * as pure codegen'd column functions: hex + a bounded `sequence`
    * explode + substring + md5, no UDF, no mapPartitions. The
    * [[sampleFrames]] Dataset API is the batched-codec variant of the
    * same semantics; this one sits under the DuckDB hash oracle.
    *
    * Scale shape: scan-fused map with a stride-bounded explode (output
    * rows ≈ payload_bytes / (frameBytes · stride), linear in input),
    * zero shuffle except the presentation sort. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    val frameBytes = 64
    val stride = 4
    mediaTable(spark, dir).toDF()
      .select(
        col("doc_id"), col("format"),
        hex(col("payload")).as("h"),
        length(col("payload")).as("n_bytes"))
      .select(col("doc_id"), col("format"), col("h"), col("n_bytes"),
        // ceil, not floor: the tail partial frame is sampled too —
        // flooring would silently skip the trailing bytes of every
        // payload over one frame while sampling the partial frame of
        // sub-frame payloads.
        explode(sequence(lit(0),
          greatest(((col("n_bytes") + (frameBytes - 1)) / frameBytes).cast("int"),
            lit(1)) - 1,
          lit(stride))).as("frame_idx"))
      .select(
        col("doc_id"), col("format"), col("frame_idx"),
        least(lit(frameBytes), col("n_bytes") - col("frame_idx") * frameBytes)
          .cast("int").as("frame_bytes"),
        md5(expr(s"substring(h, frame_idx * ${frameBytes * 2} + 1, ${frameBytes * 2})")
          .cast("binary")).as("frame_md5"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** #45c mm_corpus_audit: the per-format media-corpus health report a
    * decode budget is planned from — BEFORE any codec runs: item and
    * byte totals, the largest payload (the decode-memory high-water
    * mark), empty-payload count (the corrupt-upload class the decoder
    * must tolerate), oversize count (frames above the resize cap =
    * items that pay the resize path), and mean aspect ratio. Pure
    * metadata arithmetic — payload LENGTH, never payload bytes, so
    * the scan prunes to offsets even though the column is huge.
    *
    * Exactness: counts/sums are integers; the two means divide
    * integer sums once (aspect summed in basis points via an integer
    * `div`) — hash-exact. Scale shape: one map-side-combinable
    * aggregation onto the |formats|-sized key, the same economics as
    * corpus_mix. */
  def corpusAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact.ratio4
    mediaTable(spark, dir).toDF()
      .select(col("format"), length(col("payload")).cast("long").as("n_bytes"),
        col("width"), col("height"))
      .groupBy(col("format"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("total_bytes"),
        max(col("n_bytes")).as("max_bytes"),
        sum(when(col("n_bytes") === 0, 1L).otherwise(0L)).as("n_empty"),
        sum(when(col("width") * col("height") > 128 * 128, 1L).otherwise(0L))
          .as("n_oversize"),
        sum(expr("(10000L * width) div height")).as("aspect_bp"))
      .select(
        col("format"), col("n_items"), col("total_bytes"), col("max_bytes"),
        col("n_empty"), col("n_oversize"),
        ratio4(col("total_bytes"), col("n_items")).as("mean_bytes"),
        ratio4(col("aspect_bp"), col("n_items") * lit(10000L)).as("mean_aspect"))
      .orderBy(col("format"))
  }

  /** #45g mm_sample_balanced: temperature-flattened per-FORMAT media
    * sampling by BYTES (α = 0.5) — the multimodal training-mix step: a
    * media budget is a byte budget, not an item budget (one webp can
    * cost 100 jpegs), so a format's share of the half-corpus byte
    * budget is ∝ √(its total bytes), applied as the deterministic
    * md5-ppm per-item predicate the text samplers pin. Same integer
    * discipline as sample_temperature (√ quantized to 2⁻²⁰ BIGINT,
    * DECIMAL(38,0) budget products, `div` floors), so rates and every
    * keep/drop decision are bit-identical cross-engine — a sampler
    * under the HASH gate. Emits the per-format audit (items, bytes,
    * byte target, rate, realized items/bytes).
    *
    * Scale shape: one metadata pass (payload LENGTH only — the scan
    * prunes the blob column), a |formats|-row rate dimension joined
    * back, one map-side-combinable rollup. The corpus never
    * reshuffles. */
  def sampleBalanced(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact.ratio4
    val m = mediaTable(spark, dir).toDF()
      .select(col("doc_id"), col("format"),
        length(col("payload")).cast("long").as("n_bytes"))
      .withColumn("bucket_ppm",
        graft.sources.PersistedIndex.ppmBucket(
          col("doc_id"), concat(lit("#"), col("format"))))
    val rates = graft.sources.PersistedIndex.sqrtRates(
        m.groupBy(col("format"))
          .agg(count(lit(1)).as("n_items"), sum(col("n_bytes")).as("total_bytes")),
        size = "total_bytes", total = "corpus_bytes", target = "target_bytes")
      .select(col("format"), col("n_items"), col("total_bytes"),
        col("target_bytes"), col("rate_ppm"))
    m.join(rates, Seq("format"))
      .groupBy(col("format"), col("n_items"), col("total_bytes"),
        col("target_bytes"), col("rate_ppm"))
      .agg(
        sum(when(col("bucket_ppm") < col("rate_ppm"), 1L).otherwise(0L))
          .as("n_sampled"),
        sum(when(col("bucket_ppm") < col("rate_ppm"), col("n_bytes"))
          .otherwise(0L)).as("bytes_sampled"))
      .select(col("format"), col("n_items"), col("total_bytes"),
        col("target_bytes"), col("rate_ppm"), col("n_sampled"),
        col("bytes_sampled"),
        ratio4(col("bytes_sampled"), greatest(col("total_bytes"), lit(1L)))
          .as("realized_byte_rate"))
      .orderBy(col("format"))
  }

  /** 64-bit blockhash-style perceptual fingerprint of a binary payload
    * (pHash family; Yang et al.'s blockhash is the published block-mean
    * baseline): the payload is split into 64 equal byte regions
    * (region i covers bytes [i·n div 64, (i+1)·n div 64)) and bit i is
    * the top bit of the region's md5 — so an in-place edit confined to
    * k regions flips AT MOST k bits, which is the media-edit model
    * (pixels change in place; payload length is fixed by the format).
    * One codegen'd [[graft.functions.Blockhash64]] expression over the
    * hex rendition (the mm_frame_sample trade: the real decode is the
    * stubbed step, the fingerprint pipeline is the real Spark
    * surface), closed-form so the DuckDB oracle replays it
    * bit-for-bit.
    *
    * Scale shape: a pure map scan — each payload byte read ONCE, no
    * Generate, no shuffle. (The first cut was
    * `explode(sequence(0,63))` + substring + doc_id re-aggregation,
    * which replicated the whole hex payload into all 64 region rows —
    * a 64x payload amplification the r7-r9 verdicts flagged as the
    * scale-killer; the expression form is the fix.) */
  private[graft] def phashesOf(media: DataFrame): DataFrame =
    phashesFromHex(media
      .select(col("doc_id"), hex(col("payload")).as("h"),
        length(col("payload")).cast("long").as("nb")))

  /** [[phashesOf]] over an already-hexed (doc_id, h, nb) frame. */
  private[graft] def phashesFromHex(media: DataFrame): DataFrame =
    media.select(col("doc_id"),
      graft.functions.Blockhash.blockhash64(col("h"), col("nb")).as("phash"))

  /** The [[phashDedup]] input corpus: the media payloads plus
    * deterministically planted companions — an EXACT copy for every
    * 20th doc and an 8-byte in-place head edit (≤3 regions at
    * nb ≥ 256, so Hamming ≤ 3 by construction) for every 10th — the
    * pii_scrub / c4_filters trade: the corpus's own near-dups are
    * edit-distance (insert/delete) text pairs, which a fixed-position
    * media fingerprint rightly does NOT match, so the in-place
    * media-edit regime the operator exists for is synthesized in-plan,
    * replayed identically by the oracle. */
  private[graft] def phashCorpusHex(spark: SparkSession, dir: String): DataFrame = {
    val base = mediaTable(spark, dir).toDF()
      .select(col("doc_id"), hex(col("payload")).as("h"),
        length(col("payload")).cast("long").as("nb"))
      // Loud precondition (the brand_cheapest/raise_error convention):
      // the planted companions live at doc_id + 10^7 / + 2·10^7, so a
      // corpus id at or past 10^7 would silently collide with them —
      // fail instead. The oracle carries the same error() guard, so
      // both engines abort identically rather than diverge.
      .withColumn("doc_id",
        when(col("doc_id") >= 10000000L,
          raise_error(concat(lit("mm_phash_dedup: doc_id collides with "
            + "the companion id space (>= 10^7): "), col("doc_id"))))
          .otherwise(col("doc_id")))
    val near = base
      .filter(col("doc_id") % 10 === 0 && col("nb") >= 256)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(lit("4141414141414141"), expr("substring(h, 17)")).as("h"),
        col("nb"))
    val exactCopy = base
      .filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"), col("h"), col("nb"))
    base.unionAll(near).unionAll(exactCopy)
  }

  /** #45d mm_phash_dedup: perceptual near-duplicate MEDIA pairs — every
    * payload pair whose [[phashesOf]] fingerprints are within Hamming
    * distance 3 (identical payloads at 0, in-place edits confined to
    * ≤3 regions at ≤3 by construction). The image-dedup step of a
    * training pipeline, closing the multimodal↔dedup seam.
    *
    * Candidate generation is the dedup_simhash band trick made EXACT:
    * 4 bands of 16 bits — any pair within Hamming 3 leaves at least
    * one band untouched (pigeonhole), so the banded equality join
    * provably finds every qualifying pair and the DuckDB oracle can
    * state the NAIVE all-pairs Hamming join while the hash gate pins
    * this rewrite exact (the events_interval_join pattern). Per-bucket
    * work is quadratic in bucket size; at larger corpora you widen the
    * bands (2×32-bit is exact for Hamming ≤ 1) or fall back to the
    * capped rows-only dedup path — the knob is band count, the plan
    * shape (shuffle equality join, never a cross join) is fixed. */
  def phashDedup(spark: SparkSession, dir: String): DataFrame =
    // Re-sorted after the checkpoint: materialization does not promise
    // to preserve the pipeline's output order.
    phashPairsM(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  private def phashDedupUncached(spark: SparkSession, dir: String): DataFrame = {
    val banded = phashesFromHex(phashCorpusHex(spark, dir))
      .select(col("doc_id"), col("phash"),
        posexplode(array((0 until 4).map(b =>
          shiftrightunsigned(col("phash"), b * 16).bitwiseAND(lit(0xffffL))): _*)))
      .select(col("doc_id"), col("phash"),
        col("pos").as("band"), col("col").as("band_key"))
    val left = banded.select(col("doc_id").as("doc_a"),
      col("phash").as("phash_a"), col("band"), col("band_key"))
    val right = banded.select(col("doc_id").as("doc_b"),
      col("phash").as("phash_b"), col("band"), col("band_key"))
    left.join(right, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("phash_a"), col("phash_b"),
        graft.functions.Sketches.hamming64(col("phash_a"), col("phash_b"))
          .as("hamming"))
      .filter(col("hamming") <= 3)
      // A pair sharing several clean bands appears once per band.
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Session-memoized phash pair frame and cluster assignment — the
    * same shared-pipeline-artifact discipline as the text dedup family:
    * the banded pair join and the CC loop each run once per
    * (session, dir) and every consumer (clusters, survivors, repeat
    * calls) re-reads the materialized checkpoint. */
  private val phashCache = new graft.functions.SessionScopedCache[DataFrame]("mm.phash")

  private def phashPairsM(spark: SparkSession, dir: String): DataFrame =
    phashCache.getOrCompute(spark, dir, "phash_pairs")(
      phashDedupUncached(spark, dir).localCheckpoint())

  /** #45e mm_phash_clusters: connected components over the perceptual
    * near-dup pair graph — one row per clustered media item with its
    * cluster id (min doc_id) and size. The media analog of
    * dedup_clusters, computed by the SAME large-star/small-star
    * machinery ([[graft.dedup.Dedup.ccStar]] — O(log² n) rounds
    * regardless of component diameter), so the media and text dedup
    * pipelines share one scale-proven CC kernel. Oracle: the
    * recursive-CTE min-label propagation over the same pair CTEs. */
  def phashClusters(spark: SparkSession, dir: String): DataFrame =
    phashCache.getOrCompute(spark, dir, "phash_clusters")(
      graft.dedup.Dedup.ccStar(spark,
        phashPairsM(spark, dir).select(col("doc_a"), col("doc_b"))))

  /** #45f mm_phash_survivors: the media dedup pipeline's final step —
    * the companion-augmented media corpus minus every clustered item
    * except its cluster's min-id winner, with byte counts and a
    * winner flag (the dedup_survivors contract on media). Anti-join
    * unhinted: AQE broadcasts the dropped set only while it really is
    * small — a heavily-duplicated media corpus must not force it. */
  def phashSurvivors(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.survivorsOf(
      phashCorpusHex(spark, dir).select(col("doc_id"), col("nb").as("n_bytes")),
      phashClusters(spark, dir))

  /** #45 mm_binary_pipeline: media synthesis → batched stub decode →
    * per-doc feature presentation. The normalized float features are
    * de-normalized back to their exact integer histogram counts
    * (cnt = round(x * n_bytes) is exact below 2^24), so the presented
    * norm and first-bucket share are integer-derived double arithmetic
    * that an external SQL engine reproduces bit-for-bit. */
  def pipeline(spark: SparkSession, dir: String): DataFrame = {
    val feats = extractFeatures(mediaTable(spark, dir))
    val cnts = transform(col("feat"),
      x => round(x.cast("double") * col("n_bytes")).cast("long"))
    feats.toDF()
      // Empty payloads have no histogram (0/0 -> NaN) and no oracle row;
      // drop them identically on both sides.
      .filter(col("n_bytes") > 0)
      .withColumn("cnts", cnts)
      .select(
        col("doc_id"), col("format"), col("n_bytes"),
        (sqrt(aggregate(col("cnts"), lit(0L), (acc, x) => acc + x * x).cast("double")) /
          col("n_bytes").cast("double")).as("feat_norm"),
        (element_at(col("cnts"), 1).cast("double") /
          col("n_bytes").cast("double")).as("feat_0"))
      .orderBy(col("doc_id"))
  }
}

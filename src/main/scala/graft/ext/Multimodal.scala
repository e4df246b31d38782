package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling for a training-data pipeline: media
  * (image/audio/video) travels as opaque `binary` columns next to typed
  * metadata, and per-item decode/feature-extraction runs as a partition-
  * local batch transform (`mapPartitions` over a typed Dataset — the Scala
  * analog of `mapInPandas`: one iterator per partition, so per-batch
  * library/model setup amortizes and nothing ever collects to the driver).
  *
  * `DecodeKernel` is a real (if deliberately simple) pure-JVM decoder:
  * frame sampling slices the byte stream into per-frame windows, and the
  * feature is an exact integer filter-bank correlation over the window's
  * bytes — the fixed-random-projection shape real audio/image frontends
  * use before a model, computed here without native codecs (this
  * container ships none). Swapping in javacv/ffmpeg decode before the
  * filter bank is a one-function change; the Spark-side contract
  * (schemas, batch iteration, partitioning, column pruning) is identical.
  */
object Multimodal {

  /** A media row: raw bytes + typed metadata. */
  case class MediaItem(
      mediaId: Long,
      kind: String, // "image" | "audio" | "video"
      uri: String,
      content: Array[Byte],
      widthPx: Option[Int],
      heightPx: Option[Int],
      durationMs: Option[Long])

  /** Decoded/extracted features, one row per media item (plus one row per
    * sampled frame for video).
    */
  case class MediaFeatures(
      mediaId: Long,
      kind: String,
      frameIdx: Int,
      byteLen: Long,
      contentHash: Long,
      feature: Array[Float])

  /** Real pure-JVM decode kernel. Frame f of F covers the byte window
    * [f·n/F, (f+1)·n/F) — sampling frames = seeking windows of the
    * encoded stream. The feature is the exact integer correlation of the
    * window's (unsigned) bytes with a fixed deterministic filter bank:
    *
    *   feature_i = Σ_t w(i, t) · byte(off + t),
    *   w(i, t) = ((t mod 64)·31 + i·17) mod 7 − 3 ∈ [−3, 3]
    *
    * — the same weight family as [[Similarity.rpDot]], i.e. fixed random
    * projections of the raw signal (the classic cheap media frontend).
    * Identical bytes → identical features; a small byte-level edit moves
    * the feature proportionally. All arithmetic is exact integers (the
    * float cast is exact below 2^24), so any engine replays it
    * bit-for-bit from the hex of the bytes — which is what keeps the
    * media near-dup queries oracle-checkable. A real codec (javacv /
    * ffmpeg) would replace `byte(off + t)` with decoded PCM/pixel
    * samples; every other line stays.
    */
  object DecodeKernel {
    val FeatureDim = 8

    def contentHash(bytes: Array[Byte]): Long = {
      var h = 1125899906842597L
      var i = 0
      while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
      h
    }

    /** Filter-bank weight, period 64 in t. */
    def weight(i: Int, t: Int): Int = ((t % 64) * 31 + i * 17) % 7 - 3

    /** Decode frame `frame` of `frames`: exact integer correlations of
      * the frame's byte window against the filter bank. An empty window
      * (more frames than bytes) is the zero vector — callers doing
      * cosine drop it (NaN never compares true).
      */
    def frameFeature(bytes: Array[Byte], frame: Int,
        frames: Int): Array[Float] = {
      val n = bytes.length
      val off = (frame.toLong * n / frames).toInt
      val end = ((frame + 1).toLong * n / frames).toInt
      val acc = new Array[Int](FeatureDim)
      var j = off
      while (j < end) {
        val b = bytes(j) & 0xFF
        val t = j - off
        var i = 0
        while (i < FeatureDim) { acc(i) += weight(i, t) * b; i += 1 }
        j += 1
      }
      acc.map(_.toFloat)
    }

    /** Frames to sample: 1 for still media, duration-based for video. */
    def frameCount(kind: String, durationMs: Option[Long]): Int =
      if (kind == "video") math.max(1,
        (durationMs.getOrElse(0L) / 1000L).toInt.min(16))
      else 1
  }

  /** Decode + feature-extract, one partition at a time. Batch shape: the
    * iterator is consumed lazily — constant memory per partition — and
    * per-partition setup (the `kernelReady` line) runs once, which is
    * where a real codec would load its native libs / model weights.
    */
  def extractFeatures(items: Dataset[MediaItem]): Dataset[MediaFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      val kernelReady = true // real codec: load native libs once here
      require(kernelReady)
      it.flatMap { m =>
        val frames = DecodeKernel.frameCount(m.kind, m.durationMs)
        (0 until frames).iterator.map { f =>
          MediaFeatures(m.mediaId, m.kind, f, m.content.length.toLong,
            DecodeKernel.contentHash(m.content),
            DecodeKernel.frameFeature(m.content, f, frames))
        }
      }
    }
  }

  /** Near-duplicate media via the ANN path: extract features, then reuse
    * the embedding near-dup operator — multimodal dedup composes from the
    * same primitives as text/embedding dedup. Media are compared by
    * their frame-0 feature (the "thumbnail" window — for stills that is
    * the whole content); frame-grain video dedup is the q62 composition
    * over every sampled frame. The sign-RP bucket prefilter (`nBits`,
    * default 8) keeps the pair join equi-keyed — identical features
    * always share a bucket, so true duplicates are never lost and the
    * join never degenerates to all-pairs.
    */
  def nearDupMedia(items: Dataset[MediaItem], threshold: Double,
      nBits: Int = 8): DataFrame = {
    val feats = extractFeatures(items)
      .filter(col("frameIdx") === 0)
      .select(col("mediaId"), col("feature"))
    Dedup.embeddingNearDups(feats, "mediaId", "feature", threshold, nBits)
  }

  /** Representative-based media dedup — the LINEAR-OUTPUT at-scale
    * shape of [[nearDupMedia]] (same frame-0 feature, same sign-RP
    * buckets), per [[graft.ext.Dedup.embeddingDedupGroups]]: one
    * (mediaId, group_rep, cos6) row per item instead of the
    * inherently-quadratic pair set this corpus holds (r11
    * adjudication: 198M genuine cos ≥ 0.9 pairs at 30×). The single
    * pass over `extractFeatures` matters doubly here — the decode is
    * the expensive stage.
    */
  def dedupGroupsMedia(items: Dataset[MediaItem], threshold: Double,
      nBits: Int = 8): DataFrame = {
    val feats = extractFeatures(items)
      .filter(col("frameIdx") === 0)
      .select(col("mediaId"), col("feature"))
    Dedup.embeddingDedupGroups(feats, "mediaId", "feature", threshold,
      nBits)
  }

  /** Synthesize a deterministic media table from the documents corpus
    * (bytes = UTF-8 of the text) — the test substrate in a container with
    * no real media files.
    */
  def syntheticMedia(spark: SparkSession, docs: DataFrame): Dataset[MediaItem] = {
    import spark.implicits._
    docs.select(
      col("doc_id").as("mediaId"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      concat(lit("mem://doc/"), col("doc_id")).as("uri"),
      encode(col("text"), "UTF-8").as("content"),
      when(col("doc_id") % 3 === 0, (col("n_chars") % 1920).cast("int"))
        .as("widthPx"),
      when(col("doc_id") % 3 === 0, (col("n_chars") % 1080).cast("int"))
        .as("heightPx"),
      when(col("doc_id") % 3 === 2, col("n_chars") * 100).as("durationMs"))
      .as[MediaItem]
  }
}

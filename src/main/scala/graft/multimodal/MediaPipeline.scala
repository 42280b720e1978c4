package graft.multimodal

import graft.functions.TextPrims.P
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: opaque `binary` payloads + typed metadata,
  * with decode/feature-extraction as batched per-partition transforms.
  *
  * The pattern for image/audio/video at 100 TB: the relational layer
  * carries `(id, kind, payload BINARY, meta STRUCT)`; decode and feature
  * extraction run inside `mapPartitions` so (a) codec state is initialized
  * once per partition, not per row, and (b) rows flow through in fixed-size
  * batches matching the vectorized-decoder batch shape. Partitioning,
  * schema, and batch geometry here are real and tested; only the codec is
  * a stub (no image/audio libraries in this container): `FakeDecoder`
  * derives deterministic "pixels" from the payload bytes, making results
  * oracle-checkable.
  */
object MediaPipeline {

  case class MediaMeta(mime: String, width: Int, height: Int)
  case class MediaRow(id: Long, kind: String, payload: Array[Byte], meta: MediaMeta)
  case class ShardedRow(id: Long, kind: String, payload: Array[Byte],
                        meta: MediaMeta, shard: Int)
  case class MediaFeatures(id: Long, kind: String, n_bytes: Int, head_byte: Int,
                           byte_hash: Long, n_frames: Int, mean_luma: Double)

  /** The decoder seam. A real deployment plugs libjpeg/ffmpeg here; the
    * container has neither, so decode is STUBBED deterministically. */
  trait MediaDecoder extends Serializable {
    /** Batch decode: one call per batch of payloads (vectorized shape). */
    def decodeBatch(payloads: Seq[Array[Byte]]): Seq[Array[Int]]
  }

  /** STUB: "luma plane" = the payload bytes themselves (unsigned). A real
    * decoder returns pixel data; every downstream stage is agnostic. */
  object FakeDecoder extends MediaDecoder {
    def decodeBatch(payloads: Seq[Array[Byte]]): Seq[Array[Int]] =
      payloads.map(_.map(b => (b & 0xff)))
  }

  val BatchSize = 64

  /** Wrap documents as media rows: payload = utf-8 bytes of `text`
    * (standing in for real blobs), metadata typed. */
  def toMedia(documents: DataFrame)(implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    documents.select(
      col("doc_id").as("id"),
      lit("text/fake-image").as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(lit("image/x-fake").as("mime"),
             lit(256).as("width"), lit(1).as("height")).as("meta"))
      .as[MediaRow]
  }

  /** Feature extraction: batched decode inside mapPartitions. Features are
    * pure functions of the decoded plane, so the DuckDB oracle can
    * recompute them from the source text (ASCII ⇒ byte == char). */
  def extractFeatures(media: Dataset[MediaRow], decoder: MediaDecoder)
                     (implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        val planes = decoder.decodeBatch(batch.map(_.payload))
        batch.zip(planes).map { case (row, plane) =>
          var h = 0L
          var sum = 0L
          var i = 0
          while (i < plane.length) {
            h = (h * 31 + plane(i)) % P
            sum += plane(i)
            i += 1
          }
          MediaFeatures(
            id = row.id,
            kind = row.kind,
            n_bytes = plane.length,
            head_byte = if (plane.nonEmpty) plane(0) else -1,
            byte_hash = h,
            n_frames = plane.length / (row.meta.width * row.meta.height) + 1,
            mean_luma = sum.toDouble / plane.length.toDouble)
        }
      }
    }
  }

  case class PHashRow(id: Long, phash: Long)

  /** Perceptual (average) hash of the decoded plane — the media-side
    * near-duplicate signature (aHash shape): 63 luma samples at
    * length-adaptive positions x·len/63, thresholded STRICTLY against
    * their mean, packed into a non-negative BIGINT (bit 63 unused so the
    * value never goes negative in either engine). Sampling is
    * length-adaptive on purpose: fixed-stride sampling zeroes the high
    * bits of short planes, which collapses one LSH band bucket into an
    * O(n²) degenerate (measured on the corpus before this shape was
    * chosen: max band bucket 11 adaptive vs thousands fixed-stride). */
  def perceptualHashes(media: Dataset[MediaRow], decoder: MediaDecoder)
      (implicit spark: SparkSession): Dataset[PHashRow] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        val planes = decoder.decodeBatch(batch.map(_.payload))
        batch.zip(planes).map { case (row, plane) =>
          val n = 63
          val samples = new Array[Long](n)
          var sum = 0L
          var x = 0
          while (x < n) {
            val p = (x.toLong * plane.length / n).toInt
            val v = if (p < plane.length) plane(p).toLong else 0L
            samples(x) = v; sum += v; x += 1
          }
          val mean = sum.toDouble / n.toDouble
          var h = 0L
          x = 0
          while (x < n) {
            if (samples(x).toDouble > mean) h |= (1L << x)
            x += 1
          }
          PHashRow(row.id, h)
        }
      }
    }
  }

  case class FrameStat(id: Long, frame_idx: Int, n_px: Int, mean_luma: Double)
  case class ResizedRow(id: Long, out_w: Int, out_h: Int, pixels: Array[Int])

  /** Frame sampling: cut each decoded plane into width×height frames and
    * keep every `everyN`-th (video keyframe extraction shape). Emits one
    * row per kept frame — a generator (1→N) stage, batched decode as in
    * extractFeatures; the trailing partial frame is kept (n_px tells). */
  def sampleFrames(media: Dataset[MediaRow], decoder: MediaDecoder,
                   everyN: Int)(implicit spark: SparkSession): Dataset[FrameStat] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        val planes = decoder.decodeBatch(batch.map(_.payload))
        batch.zip(planes).flatMap { case (row, plane) =>
          val frameLen = row.meta.width * row.meta.height
          plane.grouped(frameLen).zipWithIndex.collect {
            case (px, idx) if idx % everyN == 0 =>
              FrameStat(row.id, idx, px.length,
                px.map(_.toLong).sum.toDouble / px.length)
          }
        }
      }
    }
  }

  /** Nearest-neighbor resize of a decoded plane (the standard thumbnail
    * stage). Pure function of the plane — swap in a real interpolating
    * resampler behind the same signature. */
  def resizePlane(plane: Array[Int], w: Int, h: Int,
                  outW: Int, outH: Int): Array[Int] = {
    val out = new Array[Int](outW * outH)
    var y = 0
    while (y < outH) {
      val sy = math.min(h - 1, y * h / outH)
      var x = 0
      while (x < outW) {
        val sx = math.min(w - 1, x * w / outW)
        out(y * outW + x) = plane(sy * w + sx)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Batched resize over the corpus: decode → first frame → thumbnail.
    * Planes shorter than one frame are zero-padded first (real codecs
    * guarantee full frames; the stub's "frames" come from text bytes). */
  def resizedThumbnails(media: Dataset[MediaRow], decoder: MediaDecoder,
                        outW: Int, outH: Int)
                       (implicit spark: SparkSession): Dataset[ResizedRow] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        val planes = decoder.decodeBatch(batch.map(_.payload))
        batch.zip(planes).map { case (row, plane) =>
          val frameLen = row.meta.width * row.meta.height
          val frame = java.util.Arrays.copyOf(plane, frameLen)
          ResizedRow(row.id, outW, outH,
            resizePlane(frame, row.meta.width, row.meta.height, outW, outH))
        }
      }
    }
  }

  /** Shard-level batch geometry: rows hash to `nShards` shards (the unit a
    * real pipeline would co-locate per decoder instance); reports rows and
    * full/partial decode batches per shard. */
  def batchStats(media: Dataset[MediaRow], nShards: Int)
                (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sharded = media.withColumn("shard", (col("id") % nShards).cast("int"))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "id")
      .as[ShardedRow]
    sharded.mapPartitions { it =>
      // Batches never span shards (a partition may hold several shards —
      // hash partitioning — so cut per shard, then into BatchSize runs).
      // The input is already sorted by (shard, id), so this is a streaming
      // run-length grouper holding ONE row at a time — materializing the
      // partition (toSeq.groupBy) would buffer every binary payload in
      // memory, an OOM at real media sizes.
      new Iterator[(Int, Int)] {
        private var pending: ShardedRow = _
        private def advance(): ShardedRow =
          if (pending != null) { val r = pending; pending = null; r }
          else if (it.hasNext) it.next()
          else null
        private var head: ShardedRow = advance()
        def hasNext: Boolean = head != null
        def next(): (Int, Int) = {
          val shard = head.shard
          var n = 1
          var open = true
          while (open && n < BatchSize) {
            val r = advance()
            if (r == null) open = false
            else if (r.shard == shard) n += 1
            else { pending = r; open = false }
          }
          head = advance()
          (shard, n)
        }
      }
    }.toDF("shard", "batch_rows")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_batches"),
           sum(col("batch_rows")).as("n_rows"),
           max(col("batch_rows")).as("max_batch"),
           min(col("batch_rows")).as("min_batch"))
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata; decode / feature-extraction
  * runs per-partition so heavyweight codec state initializes once per
  * partition, not once per row (the Scala analogue of a batched
  * `mapInPandas` pipeline).
  *
  * The container has no image/audio codecs, so [[FakeCodec]] is a
  * clearly-marked deterministic stand-in — the Spark-side plumbing
  * (schema, partitioning, per-partition batch shape) is real and tested.
  */
object Multimodal {

  /** Typed media row: payload + minimal metadata. */
  final case class MediaRow(media_id: Long, kind: String, bytes: Array[Byte])

  /** Extracted features. */
  final case class MediaFeatures(
      media_id: Long, kind: String, byte_len: Int,
      width: Int, height: Int, checksum: Long)

  /** STUB — deterministic fake decoder standing in for a real codec
    * (libjpeg/ffmpeg are not in this container). Derives plausible
    * dimensions and a checksum purely from the payload bytes so tests
    * are reproducible. Swap this object for a real codec binding in
    * production; the dataflow around it does not change. */
  object FakeCodec {
    def decodeDims(bytes: Array[Byte]): (Int, Int) = {
      val h = checksum(bytes)
      val w = 64 + (h % 1024).toInt.abs
      val ht = 64 + ((h >>> 16) % 1024).toInt.abs
      (w, ht)
    }
    def checksum(bytes: Array[Byte]): Long = {
      var acc = 1469598103934665603L // FNV-1a offset basis
      var i = 0
      while (i < bytes.length) { acc = (acc ^ (bytes(i) & 0xffL)) * 1099511628211L; i += 1 }
      acc
    }
  }

  /** Synthesize a media table from the documents fixture (text bytes as
    * payload) — gives the plumbing a real distributed input. */
  def mediaFromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").as("media_id"),
        (when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video")).as("kind"),
        encode(col("text"), "UTF-8").as("bytes"))
      .as[MediaRow]
  }

  /** Per-partition decode + feature extraction. `mapPartitions` (not a
    * per-row UDF) so a real codec would amortize init across the
    * partition — the batch shape that matters at 100 TB. Payload columns
    * should be pruned before any shuffle; this operates map-side only. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      // Real pipeline: initialize codec context here, once per partition.
      rows.map { r =>
        val (w, h) = FakeCodec.decodeDims(r.bytes)
        MediaFeatures(r.media_id, r.kind, r.bytes.length, w, h,
          FakeCodec.checksum(r.bytes))
      }
    }
  }

  /** Resize stub: per-partition payload rewrite to target dimensions.
    * The STUB truncates/pads the payload deterministically in proportion
    * to the pixel-count change; a real binding calls the codec's scaler
    * here. The shape that matters: payload-in, payload-out,
    * partition-at-a-time, no shuffle. */
  def resize(media: Dataset[MediaRow], targetW: Int, targetH: Int): Dataset[MediaRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val (w, h) = FakeCodec.decodeDims(r.bytes)
        val scale = (targetW.toLong * targetH).toDouble / (w.toLong * h).toDouble
        val newLen = math.max(1, (r.bytes.length * scale).toInt)
        val out = java.util.Arrays.copyOf(r.bytes, newLen) // STUB scaler
        MediaRow(r.media_id, r.kind, out)
      }
    }
  }

  /** Embedding-extraction stub: payload -> dense `Array[Float]` feature
    * vector, the column shape the similarity stack
    * ([[Similarity.bruteForceTopK]]/`ivfTopK`/`lshTopK`) consumes —
    * multimodal payloads become first-class ANN citizens. The STUB
    * expands the FNV checksum into `dims` deterministic floats; a real
    * binding runs the vision/audio encoder per partition batch. Output:
    * (vec_id, embedding) — joinable/unionable with the embeddings
    * fixture schema. */
  def mediaEmbeddings(media: Dataset[MediaRow], dims: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val seed = FakeCodec.checksum(r.bytes)
        val v = new Array[Float](dims)
        var x = seed
        var i = 0
        while (i < dims) {
          // xorshift64 over the checksum: deterministic, well-spread
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          v(i) = (x.toDouble / Long.MaxValue.toDouble).toFloat
          i += 1
        }
        (r.media_id, v)
      }
    }.toDF("vec_id", "embedding")
  }
}

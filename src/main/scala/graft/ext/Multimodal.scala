package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns (SURVEY §7.9): image/audio/video as opaque `binary`
  * payloads plus typed metadata, with one decode stage.
  *
  * The decode step is STUBBED — this container has no codec libraries —
  * with a clearly-marked deterministic fake ([[FakeCodec]]). Everything
  * Spark-side is real: the schema, the per-partition batch iteration
  * (decoder initialized once per partition, the same pattern a Pandas-UDF
  * `mapInPandas` or a JNI codec binding would use), and the
  * narrow/no-shuffle plan shape.
  */
object Multimodal {

  /** One media asset: payload is the opaque blob. */
  case class MediaAsset(asset_id: Long, kind: String, payload: Array[Byte])

  /** Decoded metadata (what a real codec would surface). */
  case class MediaMeta(asset_id: Long, kind: String, n_bytes: Int,
      width: Int, height: Int, n_frames: Int, sample_rate_hz: Int)

  /** STUB CODEC — deterministic fake standing in for image/audio/video
    * decoding. Derives pseudo-metadata purely from the byte content so
    * tests are reproducible. A real deployment swaps this object for a
    * JNI/av-library binding with the same per-partition lifecycle. */
  object FakeCodec {
    /** "Expensive" init, once per partition (like avcodec_open). */
    def open(): FakeCodec = new FakeCodec
  }
  final class FakeCodec {
    def decode(a: MediaAsset): MediaMeta = {
      val n = a.payload.length
      val sum = { var s = 0; var i = 0; while (i < n) { s += a.payload(i) & 0xff; i += 1 }; s }
      a.kind match {
        case "image" => MediaMeta(a.asset_id, a.kind, n, 64 + sum % 1856, 64 + (sum / 7) % 1016, 1, 0)
        case "audio" => MediaMeta(a.asset_id, a.kind, n, 0, 0, 0, Seq(16000, 22050, 44100)(sum % 3))
        case _       => MediaMeta(a.asset_id, a.kind, n, 320 + sum % 1600, 240 + (sum / 3) % 840, 1 + sum % 300, 0)
      }
    }
  }

  /** Synthesize a media-asset table from the documents fixture: the text
    * bytes become the opaque payload (shape-realistic, content-fake). */
  def syntheticAssets(spark: SparkSession, docs: DataFrame): Dataset[MediaAsset] = {
    import spark.implicits._
    docs.select(
        col("doc_id").as("asset_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
        col("text").cast("binary").as("payload"))
      .as[MediaAsset]
  }

  /** Decode stage: per-partition batch iteration — decoder opened once
    * per partition, streamed over the iterator (no materialization of the
    * whole partition; safe for huge blobs). Narrow: zero shuffle. */
  def decode(assets: Dataset[MediaAsset]): Dataset[MediaMeta] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      val codec = FakeCodec.open()
      it.map(codec.decode)
    }
  }
}

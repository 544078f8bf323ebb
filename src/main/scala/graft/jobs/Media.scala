package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video carried as opaque binary
  * payloads + typed metadata, processed batch-wise per partition.
  *
  * The Spark-side machinery (schema, partitioning, batch shape, typed
  * Dataset mapPartitions) is real and tested; the actual media DECODE step
  * is a clearly-marked deterministic STUB ([[decodeStub]]) because no
  * image/audio codec libraries exist in this container — swap
  * `decodeStub` for a real decoder (or a Pandas-UDF equivalent on PySpark)
  * without touching the surrounding plumbing.
  */
object Media {

  case class MediaRow(doc_id: Long, media_type: String, width: Int, height: Int,
                      payload: Array[Byte])
  case class MediaFeatures(doc_id: Long, media_type: String, n_bytes: Int,
                           feature: Array[Float], feature_sum_x1000: Long)

  /** Deterministic media table derived from documents: payload bytes are
    * md5(text) repeated to a size driven by n_chars — an opaque blob with
    * realistic variable length.
    */
  def mediaTable(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(
        col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
        (pmod(col("doc_id"), lit(64)) * 16 + 64).cast("int").as("width"),
        (pmod(col("doc_id"), lit(48)) * 16 + 64).cast("int").as("height"),
        unhex(repeat(md5(col("text").cast("binary")), (col("n_chars") / 50 + 1).cast("int")))
          .as("payload"))

  /** STUB decode: ??? in a real deployment. Here: bytes -> normalized float
    * features, deterministic, so the pipeline around it is fully testable.
    * Batch shape: one Iterator pass per partition, constant memory.
    */
  private def decodeStub(row: MediaRow): MediaFeatures = {
    // >>> STUB: replace with real image/audio decode + model features <<<
    val n = math.min(8, row.payload.length)
    val feat = Array.tabulate(n)(i => (row.payload(i) & 0xFF) / 255.0f)
    val sum = feat.foldLeft(0.0)((a, v) => a + v)
    MediaFeatures(row.doc_id, row.media_type, row.payload.length, feat,
      math.floor(sum * 1000).toLong)
  }

  /** Feature extraction over the media table: repartitioned for balanced
    * decode work, typed mapPartitions (Dataset API, not RDD).
    */
  def extractFeatures(media: DataFrame, partitions: Int): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "media_type", "width", "height", "payload")
      .repartition(partitions, col("doc_id"))
      .as[MediaRow]
      .mapPartitions(_.map(decodeStub))
  }

  final case class Frame(doc_id: Long, frame_idx: Int, n_bytes: Int, checksum: Long)

  /** Frame sampling for video rows (1 -> N flatMap shape): the payload is
    * treated as fixed-size frame chunks (STUB for a real demuxer) and
    * every `everyN`-th chunk is emitted with a content checksum. Frame
    * count per doc is arithmetic on the payload size, so the stage is
    * oracle-checkable end-to-end (q42).
    */
  def frameSample(media: DataFrame, everyN: Int, frameBytes: Int = 256): Dataset[Frame] = {
    require(everyN >= 1 && frameBytes >= 1)
    val spark = media.sparkSession
    import spark.implicits._
    media.where(col("media_type") === "video")
      .select("doc_id", "media_type", "width", "height", "payload")
      .as[MediaRow]
      .flatMap { row =>
        val nFrames = (row.payload.length + frameBytes - 1) / frameBytes
        (0 until nFrames by everyN).iterator.map { f =>
          val from = f * frameBytes
          val until = math.min(row.payload.length, from + frameBytes)
          var h = 0xcbf29ce484222325L
          var i = from
          while (i < until) { h ^= (row.payload(i) & 0xFF); h *= 0x100000001b3L; i += 1 }
          Frame(row.doc_id, f, until - from, h)
        }
      }
  }
}

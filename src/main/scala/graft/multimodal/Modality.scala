package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** One perceptual dedup modality: everything that differs between the
  * image, audio and video near-duplicate paths. Pairs, index build, gate
  * and stream ingest are each written once over this value
  * ([[graft.dedup.Dedup.fingerprintPairs]],
  * [[graft.streaming.MultimodalDedupStream]]), and the pretrain ladder
  * and ingest gate iterate [[Modality.all]].
  *
  * @param name  the modality's label in registry names, observation and
  *              stage-cut names, and audit/report columns
  * @param fpCol the 60-bit fingerprint column the band join keys on
  * @param table the persisted (doc_id, fpCol) index table; its serve-side
  *              pre-banded twin is [[bandedTable]] */
sealed abstract class Modality(val name: String, val fpCol: String, val table: String) {

  /** The partition-parallel decode → fingerprint map (carries `valid`). */
  protected def decode(docs: DataFrame): DataFrame

  /** (doc_id, fpCol) of every payload that decodes — a malformed payload
    * is nobody's duplicate, so invalid rows drop before any pairing. */
  def fingerprints(docs: DataFrame): DataFrame =
    decode(docs).filter(col("valid")).select(col("doc_id"), col(fpCol))

  /** The pre-banded, pre-capped bucket table published beside [[table]]. */
  def bandedTable: String = s"${table}_banded"
}

object Modality {
  case object Image extends Modality("image", "phash", "image_phash") {
    protected def decode(docs: DataFrame): DataFrame = Multimodal.imagePhash(docs).toDF()
  }
  case object Audio extends Modality("audio", "afp", "audio_fp") {
    protected def decode(docs: DataFrame): DataFrame = Multimodal.audioFingerprint(docs).toDF()
  }
  case object Video extends Modality("video", "vfp", "video_fp") {
    protected def decode(docs: DataFrame): DataFrame = Multimodal.videoFingerprint(docs).toDF()
  }

  /** Every modality, in the order the ladder cascades them and the gate
    * audit row lists them. */
  val all: Seq[Modality] = Seq(Image, Audio, Video)
}

package graft.multimodal

import graft.model.Doc
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media spans as opaque binary payloads with
  * typed metadata, decoded/feature-extracted in batched mapPartitions.
  *
  * Decoding: RIFF/WAVE PCM16 audio and binary PPM (P6) images get REAL
  * pure-JVM decoders (`Decoders` — full chunk/header parse → samples /
  * pixels → features + resize), JPEG/PNG/GIF/BMP decode through
  * `javax.imageio.ImageIO` (pure JDK — round-4 fix: the earlier claim that
  * JPEG needs a native codec was wrong), and MP4 video gets a REAL
  * container-metadata parse (round-5: ftyp/moov/mvhd/tkhd box walk → true
  * duration_ms + presentation width/height) with only the per-FRAME feature
  * stubbed — frame decode genuinely needs native codecs this container
  * lacks. All dispatched by magic bytes; `decodeStub` remains only for
  * opaque or corrupt payloads. Everything Spark-side — schema, batching
  * shape, partition behavior, span-sequence invariant — is real and tested.
  */
object Media {

  case class MediaCell(
      doc_id: String,
      span_idx: Int,
      kind: String,
      media_ref: String,
      payload: Array[Byte])

  case class MediaFeature(
      doc_id: String,
      span_idx: Int,
      kind: String,
      media_ref: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      duration_ms: Long,
      feature: Array[Float])

  /** Materialize media spans as binary cells. The payload here is fetched by
    * ref; offline we synthesize bytes deterministically from the ref (a real
    * deployment would read an object store by media_ref).
    */
  def mediaCells(docs: Dataset[Doc]): Dataset[MediaCell] = {
    import docs.sparkSession.implicits._
    docs.flatMap { d =>
      d.spans.iterator.zipWithIndex.collect {
        case (s, idx) if s.kind != "text" =>
          MediaCell(d.doc_id, idx, s.kind, s.media_ref, fetchFor(s.kind, s.media_ref))
      }
    }
  }

  /** Deterministic offline payload (the object-store fetch stand-in):
    * WELL-FORMED WAV for audio/video refs and P6 PPM for image refs, so the
    * real decoders execute end-to-end; opaque bytes otherwise.
    */
  private[multimodal] def fetchFor(kind: String, mediaRef: String): Array[Byte] =
    kind match {
      case "audio"                => Decoders.synthWav(mediaRef)
      // video refs fetch a well-formed MP4 container so the real box-walk
      // metadata parser runs in-pipeline (round-5; frame payload stays a
      // codec-less stub inside mdat)
      case "video"                => Decoders.synthMp4(mediaRef)
      // image payloads rotate deterministically across the three real decode
      // paths (PPM, PNG, JPEG) so every format's parser runs in-pipeline
      case "image" => math.floorMod(mediaRef.hashCode, 3) match {
        case 0 => Decoders.synthPpm(mediaRef)
        case 1 => Decoders.synthPng(mediaRef)
        case _ => Decoders.synthJpeg(mediaRef)
      }
      case _ if kind.nonEmpty     => opaqueBytes(mediaRef)
      // kind unknown at fetch time: infer from the ref's extension
      case _ if mediaRef.endsWith(".wav") => Decoders.synthWav(mediaRef)
      case _ if mediaRef.endsWith(".ppm") => Decoders.synthPpm(mediaRef)
      case _ if mediaRef.endsWith(".png") => Decoders.synthPng(mediaRef)
      case _ if mediaRef.endsWith(".jpg") || mediaRef.endsWith(".jpeg") =>
        Decoders.synthJpeg(mediaRef)
      case _ if mediaRef.endsWith(".mp4") => Decoders.synthMp4(mediaRef)
      case _                      => opaqueBytes(mediaRef)
    }

  private def opaqueBytes(mediaRef: String): Array[Byte] = {
    val seed = mediaRef.hashCode
    val n = 64 + math.floorMod(seed, 256)
    Array.tabulate(n)(i => (math.floorMod(seed * 31 + i * 7, 256) - 128).toByte)
  }

  /** Decode dispatch by magic bytes: real parsers for the self-describing
    * formats and ImageIO for JPEG/PNG/GIF/BMP; stub only where a native
    * codec would be required (video) or the payload is malformed /
    * unsupported-bit-depth (the parsers raise rather than emit zeroed
    * features — ADVICE round 3).
    */
  private[multimodal] def decode(cell: MediaCell): MediaFeature =
    try {
      if (Decoders.isWav(cell.payload)) Decoders.wavFeature(cell)
      else if (Decoders.isPpm(cell.payload)) Decoders.ppmFeature(cell)
      else if (Decoders.isImageIo(cell.payload)) Decoders.imageIoFeature(cell)
      else if (Decoders.isMp4(cell.payload)) Decoders.mp4Feature(cell)
      else decodeStub(cell)
    } catch {
      // NonFatal, not just IAE/IOException: the JDK ImageIO readers throw
      // unchecked exceptions (ArrayIndexOutOfBounds, NegativeArraySize,
      // CMMException) on corrupt payloads whose magic bytes still matched —
      // one bad cell must degrade to the stub, not kill the task (review
      // finding)
      case scala.util.control.NonFatal(_) => decodeStub(cell)
    }

  /** The single-cell decode `decodeFeatures` maps, exposed for callers that
    * operate outside a Dataset (tests, driver-side probes).
    */
  def decodeFor(cell: MediaCell): MediaFeature = decode(cell)

  /** STUB decoder — the fallback for OPAQUE or corrupt payloads no real
    * parser above accepts (every shipped format — WAV, PPM, JPEG/PNG/GIF/
    * BMP, MP4 container metadata — decodes for real). Deterministic metadata
    * + an 8-dim feature vector from the payload bytes. A real implementation
    * replaces only this function; the mapPartitions batching around it is
    * production-shaped.
    */
  private[multimodal] def decodeStub(cell: MediaCell): MediaFeature = {
    val bytes = cell.payload
    val s = bytes.foldLeft(0L)((acc, b) => (acc * 131 + (b & 0xff)) % 1000000007L)
    MediaFeature(
      cell.doc_id, cell.span_idx, cell.kind, cell.media_ref,
      n_bytes = bytes.length.toLong,
      width = 16 + (s % 640).toInt,
      height = 16 + ((s / 640) % 480).toInt,
      duration_ms = if (cell.kind == "audio" || cell.kind == "video") 100 + s % 60000 else 0L,
      feature = Array.tabulate(8)(i =>
        ((s >> (i * 4)) & 0xf).toFloat / 16f))
  }

  /** Batched decode: mapPartitions with an explicit micro-batch so a real
    * decoder can amortize model/codec setup per batch (the reference's padded
    * tensor batches, data_handler.py:106-124, live at this layer too).
    */
  def decodeFeatures(cells: Dataset[MediaCell], batchSize: Int = 64): Dataset[MediaFeature] = {
    import cells.sparkSession.implicits._
    cells.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch setup hook would go here (codec init, model weights)
        batch.iterator.map(decode)
      }
    }
  }

  /** Frame sampling for video cells: every `stride`-th frame index up to the
    * fake duration — plumbing for frame-level datasets.
    */
  def frameSample(features: Dataset[MediaFeature], stride: Long = 1000): DataFrame = {
    features.toDF()
      .filter(col("kind") === "video")
      .select(col("doc_id"), col("span_idx"), col("media_ref"),
        explode(sequence(lit(0L), col("duration_ms"), lit(stride))).as("frame_ms"))
  }
}

package graft.multimodal

import graft.model.Doc
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media spans as binary payloads with typed
  * metadata, decoded to one 8-float feature row per span in batched
  * mapPartitions.
  *
  * `decode` dispatches on magic bytes to the pure-JVM parsers in `Decoders`:
  * RIFF/WAVE PCM16 audio, binary PPM (P6) images, JPEG/PNG/GIF/BMP through
  * `javax.imageio.ImageIO`, and the MP4 container metadata (ftyp/moov/mvhd/
  * tkhd box walk → duration_ms and presentation width/height). `decodeStub`
  * handles opaque payloads and any payload a parser rejects, and supplies
  * the MP4 feature vector, because frame decode needs a native codec. The
  * Spark side (schema, batching, span-sequence invariant) is tested in
  * PipelineOpsSpec, the parsers in DecodersSpec.
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

  /** Deterministic offline payload (the object-store fetch stand-in): a
    * well-formed WAV for audio refs, MP4 for video refs and, for image refs,
    * PPM, PNG or JPEG by the ref's hash, so every real decoder runs
    * in-pipeline; opaque bytes for any other kind.
    */
  private[multimodal] def fetchFor(kind: String, mediaRef: String): Array[Byte] =
    kind match {
      case "audio"                => Decoders.synthWav(mediaRef)
      case "video"                => Decoders.synthMp4(mediaRef)
      case "image" => math.floorMod(mediaRef.hashCode, 3) match {
        case 0 => Decoders.synthPpm(mediaRef)
        case 1 => Decoders.synthPng(mediaRef)
        case _ => Decoders.synthJpeg(mediaRef)
      }
      case _                      => opaqueBytes(mediaRef)
    }

  /** Seeded opaque bytes; `Decoders.synthMp4`'s mdat frame stand-in is their first 16. */
  private[multimodal] def opaqueBytes(mediaRef: String): Array[Byte] = {
    val seed = mediaRef.hashCode
    val n = 64 + math.floorMod(seed, 256)
    Array.tabulate(n)(i => (math.floorMod(seed * 31 + i * 7, 256) - 128).toByte)
  }

  /** Decode dispatch by magic bytes. A parser raises on a payload it cannot
    * read (a corrupt header, a non-16-bit WAV) rather than emit zeroed
    * features, and the cell degrades to `decodeStub`.
    */
  def decode(cell: MediaCell): MediaFeature =
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

  /** STUB decoder — the fallback for opaque or corrupt payloads, and the
    * source of the MP4 feature vector (`Decoders.mp4Feature` keeps it and
    * replaces the metadata with the box walk's). Deterministic metadata + an
    * 8-dim feature vector from a hash of the payload bytes. A real
    * implementation replaces only this function; the mapPartitions batching
    * around it is production-shaped.
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

package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One media object: payload as an opaque binary column + typed metadata
  * (the interleaved corpus carries media refs; payloads live beside the
  * doc table keyed by media_ref).
  */
final case class MediaObject(
    doc_id: String,
    media_ref: String,
    kind: String,
    bytes: Array[Byte])

final case class MediaFeatures(
    doc_id: String,
    media_ref: String,
    kind: String,
    n_bytes: Long,
    content_hash: String,
    /** STUBBED decode output — see [[Multimodal.decodeStub]] */
    width: Int,
    height: Int,
    features: Array[Float])

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed in batched partitions
  * (the Scala analog of `mapInPandas` batch processing — one reusable
  * decode context per partition, rows streamed through it).
  *
  * The actual byte→pixels decode is STUBBED (`decodeStub`): the sandbox
  * has no image/audio codecs. The stub is deterministic (features derive
  * from a byte histogram) so the distributed plumbing — schema,
  * partitioning, batch shape, feature join-back — is real and testable;
  * swap `decodeStub` for a JNI/codec call in production.
  */
object Multimodal {

  /** Deterministic ORACLE-REPLAYABLE media side-table derived from a plain
    * document table: each doc gets 0–3 media objects with ASCII payloads
    * built from md5 hex chains, so DuckDB can reproduce byte counts and
    * content hashes exactly (`repeat(md5(ref), reps)` / `md5(payload)`) —
    * the deterministic half of the multimodal pipeline gets a hard oracle
    * while decode features stay stubbed. Derivation (single source of
    * truth for the JVM path and the generated oracle SQL):
    *   x = first 15 hex chars of md5(doc_id) as 60-bit int
    *   n_media = x % 4;  ref_i = doc_id || "-m" || i   (i = 1..n_media)
    *   kind_i = ["image","audio","video"][(x + i) % 3]
    *   payload_i = md5(ref_i) repeated (1 + (md5_60(ref_i) % 31)) times
    */
  def syntheticMediaFromDocs(docs: DataFrame,
      idCol: String = "doc_id")(implicit spark: SparkSession): Dataset[MediaObject] = {
    import spark.implicits._
    // the md5-chain payload synthesis is CPU-bound: spread a single-row-
    // group doc table across the session's cores (no-op at scale)
    Dedup.spreadIfNarrow(docs.select(col(idCol).cast("string"))).as[String].flatMap { idStr =>
      val md = java.security.MessageDigest.getInstance("MD5")
      def md5hex(s: String): String =
        md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
      def x60(hex: String): Long = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      val x = x60(md5hex(idStr))
      val nMedia = (x % 4).toInt
      (1 to nMedia).map { i =>
        val ref = idStr + "-m" + i
        val refHex = md5hex(ref)
        val reps = 1 + (x60(refHex) % 31).toInt
        val payload = refHex * reps
        val kind = ((x + i) % 3) match {
          case 0 => "image"
          case 1 => "audio"
          case _ => "video"
        }
        MediaObject(idStr, ref, kind,
          payload.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      }
    }
  }

  /** ??? in spirit: the real implementation would decode the payload with
    * an image/audio codec. Deterministic stand-in: 16-bin byte histogram
    * as the feature vector; width/height derived from payload length.
    */
  def decodeStub(bytes: Array[Byte]): (Int, Int, Array[Float]) = {
    val hist = new Array[Float](16)
    var i = 0
    while (i < bytes.length) {
      hist((bytes(i) & 0xff) >> 4) += 1f
      i += 1
    }
    val total = math.max(bytes.length, 1).toFloat
    var j = 0
    while (j < 16) { hist(j) /= total; j += 1 }
    val width = 16 * (1 + bytes.length % 64)
    val height = 9 * (1 + bytes.length % 64)
    (width, height, hist)
  }

  /** Batched feature extraction: one decode context per partition, rows
    * streamed through (the mapInPandas batch shape).
    */
  def extractFeatures(media: Dataset[MediaObject])(implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { it =>
      // per-partition init of the (stubbed) decoder context happens here
      val digest = java.security.MessageDigest.getInstance("MD5")
      it.map { m =>
        val (w, h, feats) = decodeStub(m.bytes)
        digest.reset()
        val hash = digest.digest(m.bytes).map("%02x".format(_)).mkString
        MediaFeatures(m.doc_id, m.media_ref, m.kind, m.bytes.length.toLong, hash, w, h, feats)
      }
    }
  }
}

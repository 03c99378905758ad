package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §2.4): treat image/audio/video as
  * opaque `binary` payload columns with a typed metadata struct, and run
  * decode / feature-extract as a batched partition-local pass — the Scala
  * analog of a `mapInPandas` batch UDF: a typed `mapPartitions` over an
  * iterator that is explicitly chunked into fixed-size batches, so a real
  * decoder (libjpeg/ffmpeg behind JNI, or an Arrow-batched Python worker)
  * drops in without changing the plan shape.
  *
  * THE DECODE STEP IS A STUB: no image/audio libraries exist in this
  * environment, so `decodeStub` derives a deterministic fake feature vector
  * (byte histogram moments) from the payload bytes. Everything around it —
  * schema, encoders, batch shape, partition locality, no shuffle — is real.
  *
  * Scale notes: feature extraction is a narrow map (no exchange); payloads
  * ride through Tungsten as byte arrays. At 100 TB the only knobs are input
  * split size (`spark.sql.files.maxPartitionBytes`, payloads make rows fat)
  * and batch size (amortizes per-batch decoder setup). Frame sampling is
  * per-row `slice` arithmetic on the byte array — also shuffle-free.
  */
object Multimodal {

  /** A decoded "frame"/feature batch row. */
  case class MediaFeature(id: Long, nBytes: Long, features: Array[Float])

  /** Attach a binary payload + typed metadata struct derived from a text
    * column (the harness has no real media; UTF-8 bytes stand in). Media
    * metadata (format/width/height) is synthesized deterministically the way
    * a real ingest would parse a container header.
    */
  def withPayload(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("payload", encode(col(textCol), "UTF-8"))
      .withColumn("media_meta", struct(
        lit("bin/v1").as("format"),
        length(col("payload")).cast("long").as("n_bytes"),
        // fake dimensions a header parse would yield — deterministic
        (pmod(length(col(textCol)), lit(64)) + 1).cast("int").as("width"),
        (pmod(length(col(textCol)), lit(48)) + 1).cast("int").as("height")))

  /** STUB decoder: deterministic byte-histogram moments as an 8-dim feature
    * vector. A real system replaces ONLY this function (e.g. JNI decode +
    * model forward pass); the surrounding batching/plan shape is unchanged.
    */
  def decodeStub(bytes: Array[Byte]): Array[Float] = {
    val moments = new Array[Float](8)
    if (bytes.nonEmpty) {
      var i = 0
      while (i < bytes.length) {
        moments(bytes(i) & 0x07) += 1f
        i += 1
      }
      var j = 0
      while (j < 8) { moments(j) /= bytes.length.toFloat; j += 1 }
    }
    moments
  }

  /** Batched partition-local feature extraction over (id, payload) rows.
    * `batchSize` chunks the iterator exactly like Arrow record batches chunk
    * a mapInPandas stream — per-batch decoder state amortizes setup cost.
    */
  def extractFeatures(
      df: DataFrame, idCol: String, payloadCol: String,
      batchSize: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // real impl: hand `batch` to the decoder in one call
          batch.iterator.map { case (id, payload) =>
            MediaFeature(id, payload.length.toLong, decodeStub(payload))
          }
        }
      }
      .toDF(idCol, "n_bytes", "features")
  }

  /** STUB nearest-neighbor resize: the payload is read as a row-major
    * `w`×`h` grid and sampled down to `w2`×`h2` — out-of-range sample
    * indices clamp to the last byte (fake dims need not match the byte
    * count). Pure integer arithmetic, so the SQL oracle can replicate it
    * byte-for-byte; a real system swaps ONLY this function for the codec's
    * scaler.
    */
  def resizeStub(bytes: Array[Byte], w: Int, h: Int, w2: Int, h2: Int): Array[Byte] =
    if (bytes.isEmpty) Array.emptyByteArray
    else {
      val out = new Array[Byte](w2 * h2)
      var k = 0
      while (k < out.length) {
        val r2 = k / w2
        val c2 = k % w2
        val idx = math.min((r2 * h / h2) * w + (c2 * w / w2), bytes.length - 1)
        out(k) = bytes(idx)
        k += 1
      }
      out
    }

  /** Batched partition-local resize over (id, payload, width, height) rows
    * — same batch shape as [[extractFeatures]]: a real scaler (libvips/
    * ffmpeg) receives whole batches without changing the plan.
    */
  def resize(
      df: DataFrame, idCol: String, payloadCol: String,
      widthCol: String, heightCol: String,
      targetW: Int, targetH: Int, batchSize: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol),
        col(widthCol).cast("int"), col(heightCol).cast("int"))
      .as[(Long, Array[Byte], Int, Int)]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // real impl: hand `batch` to the scaler in one call
          batch.iterator.map { case (id, payload, w, h) =>
            (id, targetW, targetH, resizeStub(payload, w, h, targetW, targetH))
          }
        }
      }
      .toDF(idCol, "width", "height", "resized")
  }

  /** Perceptual dHash signatures over the payload column: decode (stub)
    * to the deterministic 9×8 nearest-neighbor thumbnail, then fold the
    * 72-byte grid into the 64-bit horizontal-gradient signature
    * ([[graft.functions.Kernels.dhash64]]). Returns (id, sig) — the frame
    * [[graft.ops.Dedup.bandedPairsFromSigs]] blocks on. Everything is a
    * narrow map (batched partition-local resize + one codegen'd
    * expression); no shuffle until the pair join.
    */
  def dhashSigs(
      df: DataFrame, idCol: String, payloadCol: String,
      widthCol: String, heightCol: String): DataFrame =
    resize(df, idCol, payloadCol, widthCol, heightCol, targetW = 9, targetH = 8)
      .select(col(idCol).as("id"),
        graft.functions.Native.dhash64(col("resized")).as("sig"))

  /** [[dhashSigs]] straight from a text-payload document frame: attach
    * the stand-in payload + header dims, decode, sign. The one-call form
    * the streaming sink and the query family share. */
  def dhashSigsFromDocs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    dhashSigs(
      withPayload(df, idCol, textCol)
        .select(col(idCol), col("payload"),
          col("media_meta.width").as("w"), col("media_meta.height").as("h")),
      idCol, "payload", "w", "h")

  /** "Frame sampling": every `stride`-th fixed-size byte window of the
    * payload, as (id, frame_idx, frame) rows — pure expression arithmetic
    * (posexplode over computed offsets), no UDF, no shuffle.
    */
  def frameSample(
      df: DataFrame, idCol: String, payloadCol: String,
      frameBytes: Int, stride: Int): DataFrame = {
    val nFrames = greatest(
      floor((length(col(payloadCol)) - frameBytes) / stride) + 1, lit(0)).cast("int")
    // sequence(0, -1) would step DOWN; guard the empty case explicitly
    val offsets = when(nFrames > 0, sequence(lit(0), nFrames - 1))
      .otherwise(array().cast("array<int>"))
    df.select(col(idCol),
        posexplode(transform(offsets,
          i => col(payloadCol).substr(lit(1) + i * stride, lit(frameBytes))))
          .as(Seq("frame_idx", "frame")))
      .filter(length(col("frame")) === frameBytes)
  }
}

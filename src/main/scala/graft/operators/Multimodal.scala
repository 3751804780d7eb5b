package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{RowEncoder => CatalystRowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with a typed metadata struct, plus batch
  * decode/feature-extract operators.
  *
  * The Spark-side machinery (schema, partition-sized batching, operator
  * signature, columnar handoff) is real and tested; the actual media
  * decode is STUBBED with a deterministic byte-derived fake because no
  * image/audio codec libraries exist in this environment — swap
  * [[decodeStub]] for a real decoder (JNI/ffmpeg/javacv) without touching
  * any plan shape.
  */
object Multimodal {

  /** Wrap a string column as a media row: payload = utf8 bytes, metadata
    * derived. Test-data adapter — real pipelines read binary files via
    * `spark.read.format("binaryFile")`.
    */
  def asMedia(df: DataFrame, idCol: String, payloadFromCol: String,
      kind: String, format: String): DataFrame =
    df.select(
      col(idCol).as("media_id"),
      encode(col(payloadFromCol), "UTF-8").as("payload"),
      struct(lit(kind).as("kind"), lit(format).as("format"),
        length(encode(col(payloadFromCol), "UTF-8")).cast("long")
          .as("sizeBytes")).as("meta"))

  /** REAL (non-stub) container-header parsing: PNG dimensions read
    * straight off the binary payload with codegen'd built-ins — magic
    * check on bytes 1-8, big-endian width/height from the IHDR chunk
    * (bytes 17-20 / 21-24, PNG spec) via `conv(hex(substring(...)))`.
    * No codec library involved, so this path is NOT stubbed: it is the
    * shape real metadata extraction takes at scale (parse the fixed
    * header, never decode pixel data) — a scan-parallel projection.
    * Non-PNG payloads yield null dimensions; so do payloads that carry
    * the magic but are truncated before the end of the height field
    * (byte 24) or whose first chunk is not IHDR — `substring` past the
    * end returns partial bytes that `conv(hex(...))` would happily
    * parse into garbage, so the gate must prove the bytes exist and
    * really are the header before extracting.
    */
  def pngDims(bin: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val isPng = length(bin) >= 24 &&
      hex(substring(bin, 1, 8)) === "89504E470D0A1A0A" &&
      hex(substring(bin, 13, 4)) === "49484452" // "IHDR"
    val be = (from: Int) =>
      conv(hex(substring(bin, from, 4)), 16, 10).cast("long")
    when(isPng, struct(be(17).as("width"), be(21).as("height")))
      .otherwise(lit(null).cast("struct<width:bigint,height:bigint>"))
  }

  /** === STUB === Deterministic fake "decode": derives (width, height,
    * channels) and a fixed-length feature vector purely from the payload
    * bytes. Replace with a real codec; signature and batch shape stay.
    * All derivation is md5-based ([[graft.expressions.Kernels.md5_60]])
    * so an md5-equipped SQL engine reproduces every output value — the
    * stub is DuckDB-oracle-checkable, not just deterministic.
    */
  def decodeStub(payload: Array[Byte], featureDim: Int)
      : (Int, Int, Int, Array[Float]) = {
    import graft.expressions.Kernels.{md5_60, md5Hex}
    val h = md5_60(payload) // in [0, 2^60)
    val hex = md5Hex(payload)
    val w = 64 + (h % 961L).toInt // 64..1024
    val ht = 64 + ((h >>> 10) % 961L).toInt
    val feats = Array.tabulate(featureDim) { i =>
      val k = md5_60(s"${hex}_$i".getBytes("UTF-8")) % 2001L // 0..2000
      (k - 1000L).toFloat / 1000f
    }
    (w, ht, 3, feats)
  }

  private def decodedSchema(base: StructType): StructType =
    StructType(base.fields ++ Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("channels", IntegerType),
      StructField("features", ArrayType(FloatType))))

  /** Batch decode operator: partition-wise iteration (the Scala analogue
    * of a Pandas-batch UDF — one decoder init per partition, rows
    * streamed through it, no driver collect). Appends width/height/
    * channels/features columns.
    */
  def decodeAndFeaturize(df: DataFrame, payloadCol: String = "payload",
      featureDim: Int = 16): DataFrame = {
    val outSchema = decodedSchema(df.schema)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    val enc = CatalystRowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      // Real decoders are initialized HERE, once per partition/task.
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val (w, h, c, f) =
          if (bytes == null) (0, 0, 0, Array.empty[Float])
          else decodeStub(bytes, featureDim)
        Row.fromSeq(r.toSeq ++ Seq(w, h, c, f.toSeq))
      }
    }(enc)
  }

  /** Frame-sampling operator shape for video: explode a payload into
    * every `stride`-th chunk of `frameBytes` bytes (a real implementation
    * samples decoded frames; the chunking/explode plumbing is identical).
    */
  def sampleFrames(df: DataFrame, payloadCol: String = "payload",
      frameBytes: Int = 256, stride: Int = 4): DataFrame =
    df.withColumn("frame_no",
        explode(sequence(lit(0),
          greatest(ceil(length(col(payloadCol)).cast("double") /
            (frameBytes * stride)).cast("int") - 1, lit(0)))))
      .withColumn("frame",
        substring(col(payloadCol),
          (col("frame_no") * frameBytes * stride + 1).cast("int"),
          lit(frameBytes)))
}

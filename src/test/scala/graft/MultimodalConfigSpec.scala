package graft

import org.apache.spark.sql.functions._

import graft.config.JobConfig
import graft.operators.Multimodal
import graft.streaming.FileRelay
import graft.connector.Sinks

/** Multimodal plumbing, config parsing, and the streaming file relay. */
class MultimodalConfigSpec extends SparkSpec {
  import spark.implicits._

  test("asMedia wraps strings as binary payload with typed metadata") {
    val out = Multimodal.asMedia(Seq((1L, "héllo")).toDF("id", "t"),
      "id", "t", kind = "image", format = "png").collect().head
    assert(out.getAs[Array[Byte]]("payload").length == 6) // é is 2 bytes
    val meta = out.getStruct(2)
    assert(meta.getString(0) == "image" && meta.getString(1) == "png")
    assert(meta.getLong(2) == 6L)
  }

  test("decodeAndFeaturize is deterministic, appends typed columns") {
    val media = Multimodal.asMedia(
      Seq((1L, "abc"), (2L, "abc"), (3L, "different")).toDF("id", "t"),
      "id", "t", "image", "png")
    val out = Multimodal.decodeAndFeaturize(media, featureDim = 4)
    assert(out.columns.takeRight(4).toSeq ==
      Seq("width", "height", "channels", "features"))
    val rows = out.orderBy("media_id").collect()
    // same payload -> same fake decode; different payload -> different
    assert(rows(0).getInt(3) == rows(1).getInt(3))
    assert(rows(0).getSeq[Float](6) == rows(1).getSeq[Float](6))
    assert(rows(0).getSeq[Float](6) != rows(2).getSeq[Float](6))
    assert(rows.forall(_.getSeq[Float](6).length == 4))
  }

  test("sampleFrames chunk count follows ceil(len / (frameBytes*stride))") {
    val media = Multimodal.asMedia(
      Seq((1L, "x" * 100), (2L, "y")).toDF("id", "t"), "id", "t",
      "video", "mp4")
    val counts = Multimodal.sampleFrames(media, frameBytes = 16, stride = 2)
      .groupBy("media_id").count().orderBy("media_id")
      .as[(Long, Long)].collect().toMap
    assert(counts(1L) == 4) // ceil(100/32)
    assert(counts(2L) == 1) // short payload still yields one frame
  }

  test("pngDims parses a genuine PNG header and rejects other formats") {
    import org.apache.spark.sql.functions.col
    // A REAL 1920x1080 PNG prefix (magic + IHDR length/type + dims),
    // hand-assembled per the PNG spec — not derived from the builder
    // under test.
    val png: Array[Byte] = (Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A,
      0x1A, 0x0A, 0x00, 0x00, 0x00, 0x0D, 0x49, 0x48, 0x44, 0x52,
      0x00, 0x00, 0x07, 0x80, 0x00, 0x00, 0x04, 0x38, 0x08, 0x06)
      .map(_.toByte)).toArray
    val jpeg: Array[Byte] = Array(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x10,
      0x4A, 0x46, 0x49, 0x46, 0x00, 0x01, 0x01, 0x00, 0x00, 0x48,
      0x00, 0x48, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00)
      .map(_.toByte)
    // Hostile-but-plausible payloads: PNG magic truncated before the
    // height field (substring past the end would yield partial bytes
    // that conv() still parses), and a PNG whose first chunk is not
    // IHDR (dims bytes would be chunk payload, i.e. garbage).
    val truncated: Array[Byte] = png.take(18)
    val nonIhdr: Array[Byte] = png.clone()
    nonIhdr(12) = 'i'.toByte // "iHDR": wrong chunk type
    val out = Seq((1L, png), (2L, jpeg), (3L, truncated), (4L, nonIhdr))
      .toDF("id", "img")
      .select(col("id"),
        graft.operators.Multimodal.pngDims(col("img")).as("d"))
      .select(col("id"), col("d.width"), col("d.height"))
      .orderBy("id").collect()
    assert(out(0).getLong(1) == 1920L && out(0).getLong(2) == 1080L)
    assert(out(1).isNullAt(1) && out(1).isNullAt(2))
    assert(out(2).isNullAt(1) && out(2).isNullAt(2),
      "truncated PNG header must yield null dims, not garbage")
    assert(out(3).isNullAt(1) && out(3).isNullAt(2),
      "non-IHDR first chunk must yield null dims")
  }

  test("JobConfig: connector delta flag overrides top level") {
    val cfg = JobConfig.parse(
      """{"batchInferencePath":"p","performDeltaCheck":true,
        |"connectors":{"a":{"performDeltaCheck":false},"b":{}}}"""
        .stripMargin)
    assert(!cfg.deltaCheckFor("a"))
    assert(cfg.deltaCheckFor("b"))
    assert(cfg.deltaCheckFor("unknown-connector"))
  }

  test("JobConfig tolerates missing optional fields and coerces attrs") {
    val cfg = JobConfig.parse(
      """{"batchInferencePath":"p",
        |"connectors":{"x":{"otherAttributes":{"n":7,"b":true,"s":"v"}}}}"""
        .stripMargin)
    assert(cfg.saveBatchInferenceErrors) // default true
    assert(!cfg.performDeltaCheck)       // default false
    val attrs = cfg.connectors("x").otherAttributes
    assert(attrs == Map("n" -> "7", "b" -> "true", "s" -> "v"))
    assert(cfg.connectors("x").attributePrefix == "recommendation_")
  }

  test("JobConfig rejects unknown stateFormat values fast") {
    val ex = intercept[IllegalArgumentException] {
      JobConfig.parse(
        """{"batchInferencePath":"p","stateFormat":"Keyed"}""")
    }
    assert(ex.getMessage.contains("stateFormat"))
    // the two valid spellings still parse
    assert(JobConfig.parse(
      """{"batchInferencePath":"p","stateFormat":"keyed"}""")
      .stateFormat == "keyed")
    assert(JobConfig.parse("""{"batchInferencePath":"p"}""")
      .stateFormat == "snapshot")
  }

  test("JobConfig requires batchInferencePath") {
    val ex = intercept[IllegalArgumentException](JobConfig.parse("{}"))
    assert(ex.getMessage.contains("batchInferencePath"))
  }

  test("file relay processes each file exactly once across runs") {
    val dir = tmpDir("relay")
    val qname = s"relay-${java.util.UUID.randomUUID()}"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("userId",
        org.apache.spark.sql.types.StringType)))
    Seq("a", "b").toDF("userId").write.mode("overwrite").json(s"$dir/out")
    FileRelay.relayToQueue(spark, s"$dir/out", schema, s"$dir/ckpt",
      Sinks.InMemoryQueueTransport(qname), "userId")
    val first = Sinks.InMemoryQueues.drain(qname).size
    // second run with the same checkpoint: nothing new to process
    FileRelay.relayToQueue(spark, s"$dir/out", schema, s"$dir/ckpt",
      Sinks.InMemoryQueueTransport(qname), "userId")
    val second = Sinks.InMemoryQueues.drain(qname).size
    assert(first == 2 && second == 0)
  }

  test("file relay leaves a batch with failed sends uncommitted") {
    val dir = tmpDir("relay-fail")
    val qname = s"relay-${java.util.UUID.randomUUID()}"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("userId",
        org.apache.spark.sql.types.StringType)))
    val users = (0 until 25).map(i => f"u$i%02d")
    users.toDF("userId").coalesce(1).write.json(s"$dir/out")
    def relay(): Seq[String] = {
      FileRelay.relayToQueue(spark, s"$dir/out", schema, s"$dir/ckpt",
        MultimodalConfigSpec.RejectFirstCall(qname), "userId")
      Sinks.InMemoryQueues.drain(qname).map(_.id.split("-", 2)(1))
    }
    // the first send is rejected whole: the run fails rather than
    // committing a file whose messages never reached the queue
    val e = intercept[Exception](relay())
    assert(e.getMessage.contains("failed to send"))
    Sinks.InMemoryQueues.drain(qname) // the sends that went through
    // the replay delivers every user in the file; then nothing is left
    assert(relay().sorted == users)
    assert(relay().isEmpty)
  }

  test("file relay delivers every row Jobs.run writes for a connector") {
    import java.time.LocalDateTime
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import graft.jobs.Jobs
    val root = tmpDir("job-relay")
    val qname = s"relay-${java.util.UUID.randomUUID()}"
    Seq(
      """{"input":{"userId":"u1"},"output":{"recommendedItems":["p1"]}}""",
      """{"input":{"userId":"u2"},"output":{"recommendedItems":["p2","p3"]}}""",
      """{"input":{"userId":"u3"},"output":{"recommendedItems":null}}""",
      """{"input":{"userId":"u4"},"error":"SIMULATED"}"""
    ).toDF("value").coalesce(1).write.text(s"$root/input/batch")
    val cfg = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"connectors": {"braze": {}}}""".stripMargin)
    val out = Jobs.run(spark, Jobs.UserPersonalization, root, "up_job", cfg,
      LocalDateTime.of(2024, 1, 2, 3, 4, 5)).connectors.head
    FileRelay.relayToQueue(spark, out.outputDir,
      StructType(Seq(StructField("queryUserId", StringType))),
      s"$root/ckpt", Sinks.InMemoryQueueTransport(qname), "queryUserId")
    val ids = Sinks.InMemoryQueues.drain(qname).map(_.id.split("-", 2)(1))
    assert(out.rowsWritten == 3)
    assert(ids.size.toLong == out.rowsWritten)
    assert(ids.sorted == Seq("u1", "u2", "u3"))
  }
}

object MultimodalConfigSpec {
  private val calls =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]()

  /** Rejects every id of its first send, delivers every later one. */
  final case class RejectFirstCall(name: String)
      extends Sinks.QueueTransport {
    def send(batch: Seq[Sinks.QueueMessage]): Seq[String] =
      if (calls.computeIfAbsent(name,
          _ => new java.util.concurrent.atomic.AtomicInteger)
          .getAndIncrement() == 0) batch.map(_.id)
      else Sinks.InMemoryQueueTransport(name).send(batch)
  }
}
